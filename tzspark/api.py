"""User-facing facade: the reference's CLI/API surface, Spark-native inside.

Parity map (a timezoneLookup user can switch 1:1):
    Timezonecache + Load/Save  -> TimezoneLookup.load / .save   (parquet)
    AddTimezone / ImportZip    -> .from_zones / .from_geojson / .from_geojson_zip
    BuildRtree (timezone.go:208)-> compiled cell cover, cached by content hash
    mmap store (timezone.go:19-27) -> one index file mapped in place
                                  (cells.save_index / open_index)
    Search(lat, lng)           -> .search(lat, lng) -> Result(name, coords, elapsed)
    (new, the point of the engine) .assign(images_df) — the distributed join,
                                  probing the mapped index file where the
                                  rows are
"""

from __future__ import annotations

import hashlib
import os
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
    open_index,
    resolve_points,
    save_index,
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
        self.cache_dir = cache_dir
        self.idx = self._compile(cache_dir)
        self._tz_by_id = {int(z.zone_id): z.tzid for z in self.zones}
        self._assign_memo = None  # [application id, index, LookupPlan] (_plan)

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

    # -- compiled-cover cache (R9: rebuild-on-load, amortized by an index file)

    def _content_key(self) -> str:
        from .cells import INDEX_FORMAT_VERSION

        h = hashlib.blake2b(digest_size=16)
        # format version first: index files of older CompiledIndex layouts
        # (e.g. pre-kNN-table) must never load into newer code — they'd
        # map fine and silently fall back to slow paths.
        h.update(f"v{INDEX_FORMAT_VERSION}:{self.base_res}:{self.max_res}".encode())
        for z in self.zones:
            h.update(np.int64(z.zone_id).tobytes())
            h.update(z.tzid.encode())
            h.update(z.ring_lat.tobytes())
            h.update(z.ring_lng.tobytes())
        return h.hexdigest()

    def _compile(self, cache_dir) -> CompiledIndex:
        if cache_dir:
            return self._index_file(cache_dir)[1]
        return compile_cover(self.zones, self.base_res, self.max_res)

    def _index_file(self, cache_dir: str, idx: CompiledIndex = None) -> tuple:
        """(path, index) of this zone content's index file in ``cache_dir``,
        mapped (cells.open_index). A missing, truncated or stale file is
        rewritten first, from ``idx`` or a fresh compile, never read."""
        os.makedirs(cache_dir, exist_ok=True)
        p = os.path.join(cache_dir, f"cover_{self._content_key()}.tzidx")
        try:
            return p, open_index(p)
        except (OSError, ValueError):
            if idx is None:
                idx = compile_cover(self.zones, self.base_res, self.max_res)
            save_index(idx, p + ".tmp")
            os.replace(p + ".tmp", p)
            return p, idx

    # -- incremental maintenance (store Delete/Replace — rtree R5/R6) -------
    # CSR splicing on the live compiled index (cells.delete_zone/add_zone/
    # replace_zone) plus a kNN table rebuilt only in the cells the changed
    # MBR can reach — byte-identical to a recompile over the updated zone
    # list. self.zones is updated too, so _content_key re-keys every cover
    # cache correctly, and the superseded index's lookup plan is released
    # (_swap_idx).

    def _swap_idx(self, idx: CompiledIndex) -> None:
        """Install an updated index; drop the lookup plan built over the old
        one and the driver's mapping of its index file. It writes and ships
        nothing: the next assign() ships the new index's file. A DataFrame
        built before the swap still evaluates to the old answers, because
        its kernel maps the old file, which Spark keeps serving: Spark
        cannot un-register an addFile, so a session that edits and
        re-assigns N times keeps N index files (one per index content)."""
        if self._assign_memo is not None:
            self._assign_memo[2].cover.release()
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

    def _plan(self, spark):
        """assign()'s LookupPlan, built once per application and index:
        rebuilding the shipped file, dim and Columns per call is every op's
        driver-side setup otherwise (_swap_idx drops it). Its cover is the
        index file ``cache_dir`` keeps (_index_file), or a
        CoverTables.from_index file without one; it is written at the first
        call, never in __init__."""
        from .covertable import CoverTables, lookup_plan
        from .engine import zone_dim_df

        app = spark.sparkContext.applicationId
        memo = self._assign_memo
        if memo is None or memo[0] != app or memo[1] is not self.idx:
            if self.cache_dir:
                cov = CoverTables(spark, {None: self._index_file(self.cache_dir, self.idx)[0]})
            else:
                cov = CoverTables.from_index(spark, self.idx)
            plan = lookup_plan(cov, zone_dim_df(spark, self.zones))
            memo = self._assign_memo = [app, self.idx, plan]
        return memo[2]

    def cover_tables(self, spark):
        """The compiled cover as a shipped index file (covertable.CoverTables),
        the one assign() probes."""
        return self._plan(spark).cover

    def assign(self, spark, images_df):
        """The distributed lookup over an image+caption DataFrame
        (engine.assign_timezones' output): one Arrow crossing per row, its
        kernel reading the cover_tables index file that each Python worker
        maps once, plus the tiny (zone_id, tzid) dim's broadcast join."""
        return self._plan(spark).apply(images_df)

    assign_join = assign  # the join path's name: the same memoized plan

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
