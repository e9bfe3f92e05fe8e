"""User-facing facade: the reference's CLI/API surface, Spark-native inside.

Parity map (a timezoneLookup user can switch 1:1):
    Timezonecache + Load/Save  -> TimezoneLookup.load / .save   (parquet)
    AddTimezone / ImportZip    -> .from_zones / .from_geojson / .from_geojson_zip
    BuildRtree (timezone.go:208)-> compiled cell cover, cached by content hash
    Search(lat, lng)           -> .search(lat, lng) -> Result(name, coords, elapsed)
    (new, the point of the engine) .assign(images_df) — the distributed join
"""

from __future__ import annotations

import hashlib
import os
import pickle
import time
from dataclasses import dataclass

import numpy as np

from .cells import (
    DEFAULT_BASE_RES,
    DEFAULT_MAX_RES,
    CompiledIndex,
    Zone,
    compile_cover,
    knn_fallback,
    resolve_points,
)
from .geom import F32


@dataclass
class Result:
    """Search result (timezone.go:81-85): zone name, echoed coordinates,
    elapsed seconds. name == "" when nothing matched and kNN is disabled."""

    name: str
    lat: float
    lng: float
    elapsed: float


class TimezoneLookup:
    def __init__(self, zones: list, base_res: int = DEFAULT_BASE_RES,
                 max_res: int = DEFAULT_MAX_RES, cache_dir: str = None):
        self.zones = sorted(zones, key=lambda z: z.zone_id)
        self.base_res = base_res
        self.max_res = max_res
        self.idx = self._compile(cache_dir)
        self._tz_by_id = {int(z.zone_id): z.tzid for z in self.zones}

    # -- construction ------------------------------------------------------

    @classmethod
    def from_zones(cls, zones, **kw):
        return cls(zones, **kw)

    @classmethod
    def from_geojson(cls, obj, mode: str = "rings", **kw):
        from .geojson import zones_from_geojson

        return cls(zones_from_geojson(obj, mode), **kw)

    @classmethod
    def from_geojson_zip(cls, path: str, mode: str = "rings", **kw):
        from .geojson import zones_from_geojson_zip

        return cls(zones_from_geojson_zip(path, mode), **kw)

    @classmethod
    def from_reference_binary(cls, path: str, **kw):
        """Load a reference-format v2 binary db (timezone.go Save output —
        byte layout reproduced in binfmt.py) and compile the cover from it.
        A reference user's existing ``timezone.data`` works as-is."""
        from .binfmt import load_binary

        return cls(load_binary(path), **kw)

    def save_reference_binary(self, path: str) -> int:
        """Write the zone set in the reference's exact v2 binary format
        (incl. its headerLength quirk), readable by Timezonecache.Load."""
        from .binfmt import save_binary

        return save_binary(self.zones, path)

    # -- compiled-cover cache (R9: rebuild-on-load, amortized by caching) ----

    def _content_key(self) -> str:
        from .cells import INDEX_FORMAT_VERSION

        h = hashlib.blake2b(digest_size=16)
        # format version first: cached pickles from older CompiledIndex
        # layouts (e.g. pre-kNN-table) must never load into newer code —
        # they'd deserialize fine and silently fall back to slow paths.
        h.update(f"v{INDEX_FORMAT_VERSION}:{self.base_res}:{self.max_res}".encode())
        for z in self.zones:
            h.update(np.int64(z.zone_id).tobytes())
            h.update(z.tzid.encode())
            h.update(z.ring_lat.tobytes())
            h.update(z.ring_lng.tobytes())
        return h.hexdigest()

    def _compile(self, cache_dir) -> CompiledIndex:
        if cache_dir:
            os.makedirs(cache_dir, exist_ok=True)
            p = os.path.join(cache_dir, f"cover_{self._content_key()}.pkl")
            if os.path.exists(p):
                with open(p, "rb") as f:
                    return pickle.load(f)
            idx = compile_cover(self.zones, self.base_res, self.max_res)
            tmp = p + ".tmp"
            with open(tmp, "wb") as f:
                pickle.dump(idx, f)
            os.replace(tmp, p)
            return idx
        return compile_cover(self.zones, self.base_res, self.max_res)

    # -- incremental maintenance (store Delete/Replace — rtree R5/R6) -------
    # CSR splicing on the live compiled index (cells.delete_zone/add_zone/
    # replace_zone) plus a kNN table rebuilt only in the cells the changed
    # MBR can reach — byte-identical to a recompile over the updated zone
    # list. self.zones is updated too, so _content_key re-keys every cover
    # cache correctly, and the superseded index's assign() broadcast is
    # released (_swap_idx).

    def _swap_idx(self, idx: CompiledIndex) -> None:
        """Install an updated index; unpersist the broadcast assign() made of
        the old one. unpersist only drops executor copies — a DataFrame built
        before the swap still evaluates (executors re-fetch the blocks). A
        broadcast of an application that has since stopped is just dropped."""
        memo = getattr(self, "_assign_memo", None)
        if memo is not None:
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            if sc is not None and sc.applicationId == memo[0]:
                memo[2].unpersist()
            self._assign_memo = None
        self.idx = idx

    def delete_zone(self, zone_id: int) -> "TimezoneLookup":
        from .cells import delete_zone

        self._swap_idx(delete_zone(self.idx, zone_id))  # raises before any mutation
        self.zones = [z for z in self.zones if z.zone_id != zone_id]
        self._tz_by_id.pop(int(zone_id), None)
        return self

    def add_zone(self, zone: Zone) -> "TimezoneLookup":
        from .cells import add_zone

        self._swap_idx(add_zone(self.idx, zone))
        self.zones = sorted(self.zones + [zone], key=lambda z: z.zone_id)
        self._tz_by_id[int(zone.zone_id)] = zone.tzid
        return self

    def replace_zone(self, zone: Zone) -> "TimezoneLookup":
        from .cells import replace_zone

        self._swap_idx(replace_zone(self.idx, zone))
        self.zones = sorted(
            [z for z in self.zones if z.zone_id != zone.zone_id] + [zone],
            key=lambda z: z.zone_id,
        )
        self._tz_by_id[int(zone.zone_id)] = zone.tzid
        return self

    # -- save / load (S6/S8: parquet instead of the custom binary format) ---

    def save(self, path: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "zone_id": pa.array([int(z.zone_id) for z in self.zones], pa.int32()),
                "tzid": pa.array([z.tzid for z in self.zones]),
                "lats": pa.array([z.ring_lat.tolist() for z in self.zones],
                                 pa.list_(pa.float32())),
                "lngs": pa.array([z.ring_lng.tolist() for z in self.zones],
                                 pa.list_(pa.float32())),
            }
        )
        pq.write_table(tbl, path)

    @classmethod
    def load(cls, path: str, **kw):
        import pyarrow.parquet as pq

        t = pq.read_table(path)
        zones = [
            Zone(int(zid), tz, np.asarray(la, F32), np.asarray(lg, F32))
            for zid, tz, la, lg in zip(
                t["zone_id"].to_pylist(), t["tzid"].to_pylist(),
                t["lats"].to_pylist(), t["lngs"].to_pylist()
            )
        ]
        return cls(zones, **kw)

    # -- queries -------------------------------------------------------------

    def search(
        self, lat: float, lng: float, knn: bool = True, protocol: str = "argmin"
    ) -> Result:
        """Single-point lookup, reference Search parity (timezone.go:58-78):
        float64 in, float32 truncation, validity check, probe, refine.
        Invalid coordinates raise ValueError (ErrCoordinatesNotValid).

        protocol='argmin' (default): deterministic min-zone_id over
        containing zones, kNN fallback if enabled — the engine semantics.
        protocol='as_written': the reference's exact callback protocol
        (timezone.go:66-76 + geo/latlng.go:65-67) — walk MBR candidates, a
        containing candidate sets the name and CONTINUES, a non-containing
        candidate ABORTS the scan; '' if nothing was set, no kNN. The
        reference's R-tree traversal order is unspecified; here candidates
        walk in ascending zone_id (documented deterministic order)."""
        t0 = time.time()
        la = np.array([lat], dtype=F32)
        lg = np.array([lng], dtype=F32)
        # validate AFTER float32 truncation, matching the reference exactly:
        # NewLatLng truncates, then Valid() checks (geo/latlng.go:24-31), so
        # e.g. lat=90.0000001 (f32 -> 90.0) is a VALID input there.
        if not (-90.0 <= la[0] <= 90.0 and -180.0 <= lg[0] <= 180.0):
            raise ValueError("coordinates are not valid")
        if protocol == "as_written":
            name = self._search_as_written(la[0], lg[0])
            return Result(name, float(la[0]), float(lg[0]), time.time() - t0)
        zid = resolve_points(self.idx, la, lg)
        if zid[0] == -1 and knn:
            zid = knn_fallback(self.idx, la, lg)
        name = self._tz_by_id.get(int(zid[0]), "")
        return Result(name, float(la[0]), float(lg[0]), time.time() - t0)

    def _search_as_written(self, la, lg) -> str:
        from .geom import contains_scalar

        bb = self.idx.zone_bbox  # rows sorted by zone_id (compile_cover)
        cand = np.flatnonzero(
            (bb[:, 0] <= la) & (la <= bb[:, 2]) & (bb[:, 1] <= lg) & (lg <= bb[:, 3])
        )
        name = ""
        for zidx in cand:
            z = self.zones[int(zidx)]  # self.zones sorted by zone_id too
            if contains_scalar(z.ring_lat, z.ring_lng, la, lg):
                name = z.tzid  # set and continue (timezone.go:69-74)
            else:
                break  # abort on first miss (geo/latlng.go:65-67)
        return name

    def children(self, cell: int, res: int = None) -> dict:
        """R7 introspection (reference rtree Children, geo/rtree.go:445-479):
        the cover records behind one cell — ancestor full-claim lists and
        boundary PIP candidates with edge counts. See cells.cell_children."""
        from .cells import cell_children

        return cell_children(self.idx, cell, res)

    def explain_point(self, lat: float, lng: float) -> dict:
        """Probe trace for one coordinate: the cell chain consulted, the
        candidates, and the resolved (zone_id, tzid, via) answer."""
        from .cells import describe_point

        return describe_point(self.idx, lat, lng)

    def search_many(self, lat, lng, knn: bool = True) -> np.ndarray:
        """Vectorized bulk lookup (driver-side, no Spark)."""
        la = np.asarray(lat, dtype=F32)
        lg = np.asarray(lng, dtype=F32)
        zid = resolve_points(self.idx, la, lg)
        if knn:
            un = zid == -1
            if un.any():
                zid = zid.copy()
                zid[un] = knn_fallback(self.idx, la[un], lg[un])
        return zid

    # -- the distributed join -------------------------------------------------

    def assign(self, spark, images_df):
        """The broadcast PIP join over an image+caption DataFrame."""
        from .engine import assign_timezones, zone_dim_df

        # one broadcast + zone dim per (Spark application, compiled index):
        # re-pickling the index and rebuilding the dim per call is the
        # driver-side setup of every op otherwise (_swap_idx releases it)
        app = spark.sparkContext.applicationId
        memo = getattr(self, "_assign_memo", None)
        if memo is None or memo[0] != app or memo[1] is not self.idx:
            memo = self._assign_memo = (
                app, self.idx, spark.sparkContext.broadcast(self.idx),
                zone_dim_df(spark, self.zones),
            )
        return assign_timezones(images_df, memo[2], memo[3], max_res=self.max_res)

    def cover_tables(self, spark, cache_dir: str = None):
        """The compiled cover as relational tables (covertable.CoverTables),
        optionally persisted as parquet keyed by the zone-content hash — the
        broadcast-free counterpart of the pickle cache in _compile.

        Memoized per (Spark application, cache_dir, zone content): repeated
        probes reuse one CoverTables instance — and with it the
        interior_res_levels metadata read — instead of re-deriving driver-
        side table objects per call (round 6; the DataFrames are lazy table
        handles, no data is cached by this)."""
        from .covertable import CoverTables

        key = (spark.sparkContext.applicationId, cache_dir, self._content_key())
        memo = getattr(self, "_covtbl_memo", None)
        if memo is None:
            memo = self._covtbl_memo = {}
        if key in memo:
            return memo[key]
        if cache_dir:
            path = os.path.join(cache_dir, f"covertbl_{self._content_key()}")
            if not os.path.exists(os.path.join(path, "meta.json")):
                CoverTables.from_index(spark, self.idx).save(path)
            out = CoverTables.load(spark, path)
        else:
            out = CoverTables.from_index(spark, self.idx)
        memo[key] = out
        return out

    def assign_join(self, spark, images_df, cache_dir: str = None):
        """assign() with ZERO broadcast of the compiled cover: GPS extract
        (header-only Arrow crossing) -> quarantine -> cell-id equi-joins
        against the cover tables (covertable.assign_via_join) -> tzid attach.

        Same output as assign() (pinned in tests/test_covertable.py); use it
        when the zone set is past the broadcast budget (the 142 MB world
        index is already 71% of the repo's 200 MB budget — a 10x richer or
        multi-tenant zone table only works on this path). The tiny
        (zone_id, tzid) dim still broadcasts — it is O(zones), not O(edges).
        """
        from pyspark.sql import functions as F

        from .covertable import assign_images_via_join
        from .engine import zone_dim_df

        cov = self.cover_tables(spark, cache_dir)
        # memoized like cover_tables: building the 24k-row dim frame from
        # driver-side lists costs a createDataFrame per call otherwise
        dkey = (spark.sparkContext.applicationId, self._content_key())
        dmemo = getattr(self, "_dim_memo", None)
        if dmemo is None:
            dmemo = self._dim_memo = {}
        dim = dmemo.get(dkey)
        if dim is None:
            dim = dmemo[dkey] = zone_dim_df(spark, self.zones)
        assigned = assign_images_via_join(images_df, cov)
        return assigned.join(
            F.broadcast(dim.select("zone_id", "tzid")), "zone_id", "left"
        )

    def assign_bucketed(self, spark, images_df, table_name: str, n_buckets: int = 32):
        """assign() + persist the result BUCKETED on cell_id (sorted within
        buckets), so every later join/aggregation on cell_id against another
        table bucketed the same way is co-located — zero Exchange (proven in
        tests/test_scale_mechanics.py; the Iceberg analog is a
        bucket(n, cell_id) partition transform). This is the storage-layout
        lever for the 10^12-row shape: the expensive lookup runs once, and
        repeated downstream tile joins never reshuffle the big table.

        Returns the saved table's DataFrame (read back through the catalog,
        so the bucketing metadata is live for join planning). Storage goes
        through the TableIO seam (tableio.py) — an Iceberg deployment swaps
        in bucket(n, cell_id) partition transforms there."""
        from .tableio import TableIO

        assigned = self.assign(spark, images_df)
        return TableIO(spark).write_bucketed(
            assigned, table_name, n_buckets, "cell_id"
        )
