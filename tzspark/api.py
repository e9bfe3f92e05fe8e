"""User-facing facade: the reference's CLI/API surface, Spark-native inside.

Parity map (a timezoneLookup user can switch 1:1):
    Timezonecache + Load/Save  -> TimezoneLookup.load / .save   (parquet)
    AddTimezone / ImportZip    -> .from_zones / .from_geojson / .from_geojson_zip
    BuildRtree (timezone.go:208)-> compiled cell cover, cached by content hash
    mmap store (timezone.go:19-27) -> one index file mapped in place
                                  (cells.save_index / open_index)
    Search(lat, lng)           -> .search(lat, lng) -> Result(name, coords, elapsed)
    (new, the point of the engine) .assign(images_df) — the distributed join
                                  (.assign_join: over the mapped index file)
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
    # cache correctly, and the superseded index's lookup plans and assign()
    # broadcast are released (_swap_idx).

    def _swap_idx(self, idx: CompiledIndex) -> None:
        """Install an updated index; drop the lookup plans built over the old
        one and unpersist its broadcast. unpersist only drops executor
        copies — a DataFrame built before the swap still evaluates
        (executors re-fetch the blocks). A broadcast of an application that
        has since stopped is just dropped."""
        memo = getattr(self, "_assign_memo", None)
        if memo is not None and memo[2] is not None:
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            if sc is not None and sc.applicationId == memo[0]:
                memo[2].idx_bcast.unpersist()
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

    def _plans(self, spark) -> list:
        """[application id, index, broadcast LookupPlan or None, {cache_dir:
        join LookupPlan}], built once per application and index: rebuilding
        the index copy, dim and Columns per call is every op's driver-side
        setup otherwise (_swap_idx drops them)."""
        app = spark.sparkContext.applicationId
        memo = getattr(self, "_assign_memo", None)
        if memo is None or memo[0] != app or memo[1] is not self.idx:
            memo = self._assign_memo = [app, self.idx, None, {}]
        return memo

    def assign(self, spark, images_df):
        """The broadcast PIP join over an image+caption DataFrame."""
        from .engine import LookupPlan, zone_dim_df

        memo = self._plans(spark)
        if memo[2] is None:
            memo[2] = LookupPlan(
                spark.sparkContext.broadcast(self.idx), zone_dim_df(spark, self.zones),
                max_res=self.max_res,
            )
        return memo[2].apply(images_df)

    def _join_plan(self, spark, cache_dir: str):
        """assign_join's LookupPlan, over the cover_tables handle."""
        from .covertable import CoverTables, lookup_plan
        from .engine import zone_dim_df

        plans = self._plans(spark)[3]
        if cache_dir not in plans:
            if cache_dir:
                cov = CoverTables(spark, {None: self._index_file(cache_dir, self.idx)[0]})
            else:
                cov = CoverTables.from_index(spark, self.idx)
            plans[cache_dir] = lookup_plan(cov, zone_dim_df(spark, self.zones))
        return plans[cache_dir]

    def cover_tables(self, spark, cache_dir: str = None):
        """The compiled cover as an index file (covertable.CoverTables); with
        ``cache_dir``, the index file TimezoneLookup(cache_dir=...) keeps
        there (_index_file). Memoized with assign_join's plan."""
        return self._join_plan(spark, cache_dir).idx_bcast

    def assign_join(self, spark, images_df, cache_dir: str = None):
        """assign() with ZERO broadcast of the compiled cover: the same
        LookupPlan, its kernel reading the cover_tables index file that
        each Python worker maps once (covertable.lookup_plan). Same output
        as assign() (pinned in tests/test_covertable.py); use it when the
        zone set is past the broadcast budget (the 142 MB world index is
        already 71% of the repo's 200 MB budget). The tiny (zone_id, tzid)
        dim still broadcasts — it is O(zones), not O(edges)."""
        return self._join_plan(spark, cache_dir).apply(images_df)

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
