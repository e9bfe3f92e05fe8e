"""Cover-as-table lookup: the broadcast-free path.

The default engine broadcasts the whole CompiledIndex to every executor
(engine.assign_timezones) — right up to the point where the zone set outgrows
the broadcast budget (142 MB at the synthetic reference operating point;
real timezone-boundary-builder coastlines are 20k-vertex rings, and a 10x
richer or multi-tenant zone table breaks it). This module is the other
physical strategy for the SAME logical operator (SURVEY.md §2.3 J1): the
compiled cover becomes a table of spatial shards, and the probe is a
shuffle, not a broadcast. The kernel is the broadcast path's own
cells.assign_points; only the way the index reaches it differs.

A shard is one grid cell at resolution ``shard_res(idx)`` (<= base_res <=
knn_res), holding the slice of the CompiledIndex inside it:

* its interior cells per resolution and its boundary cells, with each
  boundary candidate's pruned edge run materialized;
* the kNN candidate lists (CSR) of its kNN cells;
* the global zone_ids / zone_bbox — O(zones), so zone indices need no
  renumbering and the brute-force kNN for clamped out-of-domain points
  stays exact.

Every interior, boundary and kNN cell has exactly one shard ancestor, and a
point's cells at every resolution lie in the point's shard, so
assign_points on the shard reads exactly what it reads on the full index
(pinned in tests/test_covertable.py). A lookup keys the points by shard and
runs

    points.groupBy(keys, shard_id, salt)
          .cogroup(shards.groupBy(keys, shard_id, salt))
          .applyInArrow(assign_points per group)

then joins the (key, zone_id, via_knn) result back onto the rows. The edges
cross the exchange once per shard, not once per probe row.

Skew: a cogroup group runs in one task, and AQE cannot split it. One small
job counts the points per shard; a shard holding more than its share of the
session's shuffle partitions spreads its points over that many salted groups,
and only that shard's blob is replicated to each.
"""

from __future__ import annotations

import pickle

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cells import (
    CompiledIndex,
    _ragged_ramp,
    assign_points,
    cell_id_col,
    cell_id_parent,
    cell_rowcol_col,
    explode_rect_cells,
)
from .engine import _pa_df
from .geom import F32

SHARD_RES = 4  # shard grid cap: 16 x 16 cells of 11.25 x 22.5 degrees
# Kept in every blob and in a saved cover's meta.json, and mixed into
# api.TimezoneLookup's cover cache key: bump it whenever the blob changes.
SHARD_LAYOUT_VERSION = 1

SHARDS_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)


def shard_res(idx: CompiledIndex) -> int:
    """Shard resolution: never finer than base_res or knn_res, so every
    interior, boundary and kNN cell lies in exactly one shard."""
    return min(SHARD_RES, idx.base_res, idx.knn_res)


def _knn_block(shard: int, s_res: int, knn_res: int) -> np.ndarray:
    """Ascending ids of the kNN cells inside ``shard``."""
    m = 1 << (knn_res - s_res)
    r0, c0 = (shard >> s_res) * m, (shard & ((1 << s_res) - 1)) * m
    rows = np.arange(r0, r0 + m, dtype=np.int64)
    cols = np.arange(c0, c0 + m, dtype=np.int64)
    return (rows[:, None] * (1 << knn_res) + cols[None, :]).ravel()


def _by_shard(cells: np.ndarray, res: int, s_res: int):
    """(order, lo, hi): the positions of ``cells`` in shard s are
    order[lo[s]:hi[s]], ascending (stable sort of sorted cell ids)."""
    par = cell_id_parent(cells.astype(np.int64), res, s_res)
    order = np.argsort(par, kind="stable")
    ids = np.arange(1 << (2 * s_res))
    return (order, np.searchsorted(par[order], ids, "left"),
            np.searchsorted(par[order], ids, "right"))


def _csr_take(off: np.ndarray, rows: np.ndarray):
    """(offsets, flat positions) of the CSR rows ``rows``."""
    cnt = off[rows + 1] - off[rows]
    sub = np.zeros(len(rows) + 1, np.int64)
    np.cumsum(cnt, out=sub[1:])
    return sub, _ragged_ramp(off[rows], cnt)


def shard_blobs(idx: CompiledIndex) -> dict:
    """{shard_id: blob}: the index sliced into shards (no recompile). A blob
    is a pickled dict of CompiledIndex fields; open_shard inverts it."""
    s_res = shard_res(idx)
    full = {r: (v, _by_shard(v[0], r, s_res)) for r, v in idx.full.items()}
    b_cells = idx.b_cells if idx.b_cells is not None else np.empty(0, np.int64)
    b_groups = _by_shard(b_cells, idx.max_res, s_res)
    out = {}
    for s in range(1 << (2 * s_res)):
        d = {
            "v": SHARD_LAYOUT_VERSION, "shard": s, "shard_res": s_res,
            "base_res": idx.base_res, "max_res": idx.max_res,
            "knn_res": idx.knn_res, "zone_ids": idx.zone_ids,
            "zone_bbox": idx.zone_bbox, "full": {},
        }
        for r, ((cells, off, zl), (order, lo, hi)) in full.items():
            rows = order[lo[s]:hi[s]]
            sub, flat = _csr_take(off, rows)
            d["full"][r] = (cells[rows], sub, zl[flat])
        order, lo, hi = b_groups
        rows = order[lo[s]:hi[s]]
        d["b_cells"] = b_cells[rows]
        if len(b_cells):
            d["b_off"], cand = _csr_take(idx.b_off, rows)
            d["b_zone"] = idx.b_zone[cand]
            d["b_edge_off"], e = _csr_take(idx.b_edge_off, cand)
            if idx.b_ea_lat is None:  # index form: gather the shard's runs
                e = idx.b_edge_idx[e]
                src = (idx.ea_lat, idx.ea_lng, idx.eb_lat, idx.eb_lng)
            else:
                src = (idx.b_ea_lat, idx.b_ea_lng, idx.b_eb_lat, idx.b_eb_lng)
            for name, a in zip(("b_ea_lat", "b_ea_lng", "b_eb_lat", "b_eb_lng"), src):
                d[name] = a[e]
        d["knn_off"], d["knn_zidx"] = None, None
        if idx.knn_off is not None:
            d["knn_off"], flat = _csr_take(
                idx.knn_off, _knn_block(s, s_res, idx.knn_res)
            )
            d["knn_zidx"] = idx.knn_zidx[flat]
        out[s] = pickle.dumps(d, protocol=pickle.HIGHEST_PROTOCOL)
    return out


def open_shard(blob: bytes) -> CompiledIndex:
    """A shard blob as a CompiledIndex that cells.assign_points accepts for
    the points of that shard. Its kNN CSR is re-spread over the global kNN
    cell numbering (empty outside the shard)."""
    d = pickle.loads(blob)
    if d.pop("v") != SHARD_LAYOUT_VERSION:
        raise ValueError("shard blob of another layout version")
    shard, s_res = d.pop("shard"), d.pop("shard_res")
    if d["knn_off"] is not None:
        k = d["knn_res"]
        dense = np.zeros((1 << (2 * k)) + 1, np.int64)
        dense[_knn_block(shard, s_res, k) + 1] = np.diff(d["knn_off"])
        d["knn_off"] = np.cumsum(dense)
    return CompiledIndex(tzids=[], **d)


class CoverTables:
    """The compiled cover as ONE table of spatial shards,
    ``(keys..., shard_id, blob)`` (see the module docstring).

    ``keys`` names extra columns that lead every grouping key (e.g.
    ('tenant',) after union_tenants): the points carry the same columns,
    so MANY zone sets resolve in ONE job.
    """

    def __init__(self, shards: DataFrame, base_res: int, max_res: int,
                 knn_res: int, shard_res: int, keys: tuple = ()):
        self.shards = shards
        self.base_res = base_res
        self.max_res = max_res
        self.knn_res = knn_res
        self.shard_res = shard_res
        self.keys = tuple(keys)

    def _meta(self) -> dict:
        return {"layout": SHARD_LAYOUT_VERSION, "base_res": self.base_res,
                "max_res": self.max_res, "knn_res": self.knn_res,
                "shard_res": self.shard_res, "keys": list(self.keys)}

    @classmethod
    def from_index(cls, spark: SparkSession, idx: CompiledIndex) -> "CoverTables":
        import pyarrow as pa

        blobs = shard_blobs(idx)
        tbl = pa.table({"shard_id": pa.array(list(blobs), pa.int64()),
                        "blob": pa.array(list(blobs.values()), pa.binary())})
        return cls(_pa_df(spark, tbl, SHARDS_SCHEMA), idx.base_res, idx.max_res,
                   idx.knn_res, shard_res(idx))

    @classmethod
    def union_tenants(
        cls, spark: SparkSession, covers: dict
    ) -> "CoverTables":
        """Union per-tenant compiled covers into ONE tenant-keyed cover.

        This is the multi-tenant regime that motivates the join path in the
        first place: N zone sets whose combined size exceeds any broadcast
        budget become rows of one shared table, and the probe is still a
        single shuffle-partitioned job — grouping keys (tenant, shard_id).
        All tenants must share the same resolutions (one compile config).
        ``covers`` maps tenant id -> CompiledIndex.
        """
        parts = {t: cls.from_index(spark, idx) for t, idx in covers.items()}
        first = next(iter(parts.values()))
        shards = None
        for t, ct in parts.items():
            if ct._meta() != first._meta():
                raise ValueError(f"tenant {t!r} compiled with different resolutions")
            d = ct.shards.select(F.lit(t).alias("tenant"), "shard_id", "blob")
            shards = d if shards is None else shards.unionByName(d)
        return cls(shards, first.base_res, first.max_res, first.knn_res,
                   first.shard_res, keys=("tenant",))

    def save(self, path: str):
        """Persist as a parquet dir of shard rows plus meta.json, written
        last. Callers key ``path`` by the zone-content hash and the layout
        version (api.TimezoneLookup.cover_tables), so a changed zone table
        can never read a stale cover."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        self.shards.write.mode("overwrite").parquet(f"{path}/shards")
        with open(f"{path}/meta.json", "w") as f:
            json.dump(self._meta(), f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "CoverTables":
        """Open a saved cover. Raises ValueError for a cover of another
        layout (a meta.json without this SHARD_LAYOUT_VERSION)."""
        import json

        with open(f"{path}/meta.json") as f:
            meta = json.load(f)
        if meta.get("layout") != SHARD_LAYOUT_VERSION:
            raise ValueError(
                f"{path}: cover layout {meta.get('layout')!r}, "
                f"expected {SHARD_LAYOUT_VERSION}"
            )
        return cls(
            spark.read.parquet(f"{path}/shards"),
            meta["base_res"], meta["max_res"], meta["knn_res"],
            meta["shard_res"], keys=tuple(meta["keys"]),
        )


def _assign_group(points, shard):
    """One cogroup: the points of one (keys, shard, salt) group and that
    shard's blob (no row when no cover exists for the keys)."""
    import pyarrow as pa

    n = points.num_rows
    zid, via = np.full(n, -1, np.int32), np.zeros(n, bool)
    if n and shard.num_rows:
        lat = np.asarray(points.column("_lat").to_numpy(), F32)  # null -> NaN
        lng = np.asarray(points.column("_lng").to_numpy(), F32)
        zid, via = assign_points(open_shard(shard.column("blob")[0].as_py()), lat, lng)
    return pa.table({"_k": points.column("_k"), "_lat": points.column("_lat"),
                     "_lng": points.column("_lng"), "zone_id": zid, "via_knn": via})


def _salts(pts: DataFrame, keys: list, p: int):
    """((keys..., shard_id, _n) frame, total groups): each shard's salt
    count from its point count and the shuffle partitions ``p``. A shard
    holding a fraction f of the points gets ceil(f * p) salted groups."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    spark = pts.sparkSession
    rows = pts.groupBy(*keys, "shard_id").count().collect()
    total = sum(r["count"] for r in rows)
    live = [(*r[:-1], min(p, -(-r["count"] * p // total)))
            for r in rows if r["shard_id"] is not None]
    schema = T.StructType(
        [pts.schema[k] for k in keys]
        + [T.StructField("shard_id", T.LongType()), T.StructField("_n", T.IntegerType())]
    )
    # a local (Arrow) relation: broadcasting it runs no Spark job
    tbl = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in live],
                               schema=to_arrow_schema(schema))
    return _pa_df(spark, tbl, schema), sum(r[-1] for r in live)


def _lookup(pts: DataFrame, cover: CoverTables):
    """(_k, [keys...], _lat, _lng) -> (_k, _lat, _lng, zone_id, via_knn), one
    row per input row: cells.assign_points on each point's shard. Null or NaN
    coordinates get (-1, False), as on the broadcast path.

    Returns (result, cached): ``cached`` is the narrow point frame, persisted
    because the salt count and the lookup both read it (for the image path
    it holds the GPS-extract output). Callers that run per micro-batch
    unpersist it."""
    from pyspark.storagelevel import StorageLevel

    ks = list(cover.keys)
    grp = [*ks, "shard_id", "_salt"]
    cached = pts.withColumn(
        "shard_id", cell_id_col(F.col("_lat"), F.col("_lng"), cover.shard_res)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    p = int(pts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    salts, n_groups = _salts(cached, ks, p)
    # a fixed partition count on both sides: AQE coalesces by bytes, and the
    # narrow points of a salted hot shard are few bytes but many ray casts —
    # coalescing would fold the salted groups back into one task
    n_part = max(1, min(p, n_groups))
    left = (
        cached.join(F.broadcast(salts), [*ks, "shard_id"], "left")
        .withColumn("_salt", F.pmod(F.xxhash64("_k"), F.coalesce("_n", F.lit(1))).cast("int"))
        .select("_k", *grp, "_lat", "_lng")
        .repartition(n_part, *grp)
    )
    # only the shards that hold points ship, a hot one once per salt
    right = (
        cover.shards.join(F.broadcast(salts), [*ks, "shard_id"])
        .select(*ks, "shard_id",
                F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("_salt"), "blob")
        .repartition(n_part, *grp)
    )
    schema = T.StructType(
        [cached.schema["_k"], cached.schema["_lat"], cached.schema["_lng"],
         T.StructField("zone_id", T.IntegerType(), False),
         T.StructField("via_knn", T.BooleanType(), False)]
    )
    res = left.groupBy(*grp).cogroup(right.groupBy(*grp)).applyInArrow(
        _assign_group, schema
    )
    return res, cached


def _narrow(points: DataFrame, key_col: str, cover: CoverTables,
            lat_col: str, lng_col: str) -> DataFrame:
    return points.select(
        F.col(key_col).alias("_k"),
        *[F.col(k).cast(cover.shards.schema[k].dataType) for k in cover.keys],
        F.col(lat_col).cast("float").alias("_lat"),
        F.col(lng_col).cast("float").alias("_lng"),
    )


def assign_via_join(
    points: DataFrame,
    key_col: str,
    cover: CoverTables,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """The full engine assignment (engine.assign_udf semantics) with zero
    broadcast of the cover: adds zone_id + via_knn to ``points``. A point no
    zone contains gets its kNN zone (via_knn True); a null or NaN coordinate
    gets (-1, False). ``key_col`` must be unique and non-null per row: the
    result joins back on it. ``cover.keys`` columns (e.g. tenant) must be
    present in ``points``."""
    res, _ = _lookup(_narrow(points, key_col, cover, lat_col, lng_col), cover)
    return points.join(
        res.select("_k", "zone_id", "via_knn"), F.col(key_col) == F.col("_k")
    ).drop("_k")


def resolve_via_join(
    points: DataFrame,
    key_col: str,
    cover: CoverTables,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """assign_via_join without the kNN answers: adds zone_id, the argmin
    containing zone (cells.resolve_points semantics), -1 when none."""
    return assign_via_join(points, key_col, cover, lat_col, lng_col).withColumn(
        "zone_id", F.when(F.col("via_knn"), F.lit(-1)).otherwise(F.col("zone_id"))
    ).drop("via_knn")


def knn_via_join(
    points: DataFrame,
    key_col: str,
    cover: CoverTables,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """The kNN answers of assign_via_join (cells.knn_fallback semantics):
    the rows no zone contains, with their nearest zone as zone_id. Rows a
    zone contains and rows with no answer (null/NaN coordinates) drop out."""
    return assign_via_join(points, key_col, cover, lat_col, lng_col).where(
        F.col("via_knn")
    ).drop("via_knn")


def _assign_images(images: DataFrame, cover: CoverTables, key_col: str):
    """assign_images_via_join plus its cached narrow frame (see _lookup)."""
    from .engine import extract_gps_udf, gps_header_col

    ks = list(cover.keys)
    # Only the key [+ tenant keys] and the 17-byte header prefix enter
    # Python for the extract. asNondeterministic: the quarantine filter
    # references the UDF's struct fields, and Catalyst otherwise
    # re-instantiates the UDF below the pushed filter (two stacked
    # ArrowEvalPython nodes; engine.lookup_udf does the same). The function
    # itself is pure.
    g = images.select(
        F.col(key_col).alias("_k"),
        *ks,
        extract_gps_udf().asNondeterministic()(
            gps_header_col(F.col("bytes"))
        ).alias("g"),
    )
    ok = g.where(
        F.col("g.gps_ok")
        & F.col("g.lat").between(-90.0, 90.0)
        & F.col("g.lng").between(-180.0, 180.0)
    )
    res, cached = _lookup(_narrow(ok, "_k", cover, "g.lat", "g.lng"), cover)
    # the heavy side is the RAW image table (no Python stage, scan pruned to
    # the consumer's columns); lat/lng come back from the lookup result
    out = images.join(res, F.col(key_col) == F.col("_k")).select(
        *images.columns,
        F.col("_lat").alias("lat"),
        F.col("_lng").alias("lng"),
        F.lit(False).alias("quarantined"),
        cell_id_col(F.col("_lat"), F.col("_lng"), cover.max_res).alias("cell_id"),
        "via_knn",
        "zone_id",
    )
    return out, cached


def assign_images_via_join(
    images: DataFrame,
    cover: CoverTables,
    key_col: str = "image_id",
) -> DataFrame:
    """The image-table front half + the join assignment: GPS extract (header
    bytes only cross into Python), quarantine (bad blob OR out-of-domain
    coords), then the shard lookup. Mirrors engine.assign_timezones' row
    semantics with zero broadcast of the cover; used by
    api.TimezoneLookup.assign_join (batch) and streaming.stream_assign_join
    (per micro-batch). Building the frame runs one small job (the per-shard
    point count that sets the salts)."""
    return _assign_images(images, cover, key_col)[0]


# ---------------------------------------------------------------------------
# distance-bounded (radius) join
# ---------------------------------------------------------------------------


def _f64(c: str):
    """Float32-truncated coordinate column as float64 (the oracle's cast)."""
    return F.col(c).cast("float").cast("double")


def radius_join(
    points: DataFrame,
    key_col: str,
    zones_bbox: DataFrame,
    radius: float,
    res: int = 6,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Distance-bounded spatial join: every (point, zone) pair whose squared
    MBR clamp distance is <= radius**2 — the range/radius generalization of
    the J2 nearest-zone operator (timezone.go nearest-fallback semantics,
    argmin relaxed to "all zones within r").

    Grid-blocked and fully relational, nothing broadcast: each side
    enumerates the grid cells its search rectangle overlaps at resolution
    ``res`` (the zone side its bbox, the point side the [lat+-r, lng+-r]
    disc bound) via cells.explode_rect_cells, and candidates meet in a cell
    equi-join. Any zone within r of a point has a bbox intersecting the
    point's rectangle, and two overlapping rectangles always share at least
    one grid cell both enumerated — so the candidate set is complete while
    staying (cells/point x zones/cell), never |points| x |zones|. The exact
    clamp-distance filter (float64 from float32 coords, the q12 oracle
    formula) keeps true pairs; pairs met through several shared cells
    collapse via distinct on deterministic columns.

    100 TB shape: shuffles on cell id like every cover probe; dense-cell
    skew is ordinary join skew (AQE skew-split applies) and the exploded
    zone side is write-once — persist it bucketed on `cell`
    (tableio.TableIO.write_bucketed) to take its Exchange off the steady
    path.

    Returns (key, zone_id:int, dist2:double) — one row per qualifying pair.
    """
    r = float(radius)
    p = explode_rect_cells(
        points.select(
            F.col(key_col).alias("_k"),
            _f64(lat_col).alias("_lat"),
            _f64(lng_col).alias("_lng"),
        ),
        F.col("_lat") - r, F.col("_lat") + r, F.col("_lng") - r, F.col("_lng") + r,
        res,
    )
    z = explode_rect_cells(
        zones_bbox.select(
            F.col("zone_id").cast("int").alias("zone_id"),
            "min_lat", "min_lng", "max_lat", "max_lng",
        ),
        F.col("min_lat"), F.col("max_lat"), F.col("min_lng"), F.col("max_lng"),
        res,
    )
    j = p.join(z.hint("shuffle_hash"), "_cell")
    dlat = F.greatest(
        F.col("min_lat") - F.col("_lat"), F.col("_lat") - F.col("max_lat"), F.lit(0.0)
    )
    dlng = F.greatest(
        F.col("min_lng") - F.col("_lng"), F.col("_lng") - F.col("max_lng"), F.lit(0.0)
    )
    d2 = dlat * dlat + dlng * dlng
    return (
        j.withColumn("dist2", d2)
        .where(F.col("dist2") <= r * r)
        .select(F.col("_k").alias(key_col), "zone_id", "dist2")
        .distinct()
    )


def _blocking_res(res: int, radius: float) -> int:
    """Refine a point-point radius join's blocking grid so a cell is never
    much coarser than the search radius. Candidates per point scale like
    (2r/cell + 1)^2 * density * cell^2 — minimized near cell ~ r (the
    classic grid-join sizing) — so blocking at a cell several times r
    multiplies candidate volume by the density of the hottest cells
    (measured on the 1M-image bench stream: res 12 for r=0.01 emitted
    1.58e9 candidates for 7.9e7 true pairs). Returns the finest resolution
    whose cell is still >= radius, never coarser than the caller's ``res``
    (output is blocking-independent; this only prunes candidates)."""
    import math

    if radius <= 0:
        return res
    fine = int(math.floor(math.log2(180.0 / float(radius))))
    return max(res, min(fine, 20))


def _pairs_within(a, b, radius, res, a_keys=None, where=None):
    """Asymmetric cell blocking, the one core of the point-pair joins:
    every (a, b) row pair whose f64 Euclidean distance between
    (_lat_a, _lng_a) and (_lat_b, _lng_b) is <= ``radius``, with its
    ``dist2``.

    The A side enumerates every grid cell its [lat+-r, lng+-r] rectangle
    overlaps (explode_rect_cells); the B side maps each point to its single
    containing cell. If |a-b| <= r then b's point lies inside a's
    rectangle, so b's one cell is among a's cells — complete — and because
    B contributes exactly one cell per point, each candidate pair arises in
    exactly one cell: no distinct needed. ``a_keys`` maps further join keys
    to an array Column over A that is exploded after the cells (B must
    carry each key as one value); ``where`` is an extra pair predicate.
    Candidates are bounded by points-per-cell x cells-per-rectangle;
    dense-cell skew is ordinary join skew (AQE-splittable), never |A| x |B|.
    The blocking grid is refined by _blocking_res first (the output does
    not depend on it)."""
    res = _blocking_res(res, radius)
    r = float(radius)
    a_keys = a_keys or {}
    la, lg = F.col("_lat_a"), F.col("_lng_a")
    a = explode_rect_cells(a, la - r, la + r, lg - r, lg + r, res)
    for k, seq in a_keys.items():
        a = a.withColumn(k, F.explode(seq))
    row, col = cell_rowcol_col(F.col("_lat_b"), F.col("_lng_b"), res)
    b = b.withColumn("_cell", row * (1 << res) + col)
    j = a.join(b.hint("shuffle_hash"), ["_cell", *a_keys])
    if where is not None:
        j = j.where(where)
    dlat = F.col("_lat_a") - F.col("_lat_b")
    dlng = F.col("_lng_a") - F.col("_lng_b")
    return j.withColumn("dist2", dlat * dlat + dlng * dlng).where(
        F.col("dist2") <= r * r
    )


def proximity_self_join(
    points: DataFrame,
    key_col: str,
    radius: float,
    res: int = 8,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Spatial self-join: every unordered pair of points within ``radius``
    degrees (exact Euclidean on float32-truncated coords) — the geo analog
    of the near-duplicate operators (queries_text), e.g. "image pairs taken
    at the same spot". Cell-blocked by _pairs_within (each pair arises in
    one cell); ``a.key < b.key`` keeps one orientation.

    Returns (id_a, id_b, dist2:double), id_a < id_b.
    """
    a = points.select(
        F.col(key_col).alias("id_a"),
        _f64(lat_col).alias("_lat_a"), _f64(lng_col).alias("_lng_a"),
    )
    b = points.select(
        F.col(key_col).alias("id_b"),
        _f64(lat_col).alias("_lat_b"), _f64(lng_col).alias("_lng_b"),
    )
    return _pairs_within(
        a, b, radius, res, where=F.col("id_a") < F.col("id_b")
    ).select("id_a", "id_b", "dist2")


def point_pairs_within(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    radius: float,
    res: int = 8,
    lat_col: str = "lat",
    lng_col: str = "lng",
    carry_cols: list = None,
) -> DataFrame:
    """Two-set point radius join: every (left, right) pair within ``radius``
    degrees — proximity_self_join's asymmetric blocking (_pairs_within)
    without the self-dedup; the LEFT side enumerates its rectangle's cells,
    so each qualifying pair arises in exactly one cell. ``carry_cols``
    names right columns to keep on the pairs (e.g. the site's measurement
    for IDW).

    Returns (<left_key>, <right_key>, dist2:double, *carry_cols).
    """
    carry_cols = carry_cols or []
    a = left.select(
        F.col(left_key).alias("_kl"),
        _f64(lat_col).alias("_lat_a"), _f64(lng_col).alias("_lng_a"),
    )
    b = right.select(
        F.col(right_key).alias("_kr"),
        _f64(lat_col).alias("_lat_b"), _f64(lng_col).alias("_lng_b"),
        *carry_cols,
    )
    return _pairs_within(a, b, radius, res).select(
        F.col("_kl").alias(left_key), F.col("_kr").alias(right_key), "dist2",
        *carry_cols,
    )


def colocation_pairs(
    events: DataFrame,
    key_col: str,
    user_col: str,
    ts_col: str,
    radius: float,
    window_s: int,
    res: int = 4,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Spatiotemporal co-location self-join: every unordered pair of events
    from DIFFERENT users within ``radius`` degrees AND ``window_s`` seconds
    of each other (the contact-tracing / co-occurrence operator).

    Blocking extends proximity_self_join's asymmetric scheme to 3D keys
    (cell, time-bucket): the LEFT side enumerates every grid cell its
    [lat+-r, lng+-r] rectangle overlaps x the <= 3 ``window_s``-wide time
    buckets its [t-T, t+T] interval overlaps; the RIGHT side maps each
    event to its single (cell, bucket). If a pair qualifies, b's one key
    is among a's enumerated keys (complete) and arises exactly once (the
    right side contributes one key per event) — no dedup pass. Candidates
    are bounded by events-per-(cell,bucket) x rectangle-cells x 3, never
    |N|^2; hot (cell,bucket) keys are ordinary join skew (AQE-splittable).
    All time arithmetic is integer microseconds, the distance predicate the
    exact f64-from-f32 Euclidean — both engines agree bit-for-bit.

    Returns (id_a, id_b, user_a, user_b, dist2:double, dt_us:long),
    id_a < id_b.
    """
    w_us = int(window_s) * 1_000_000
    # NTZ-safe epoch microseconds (unix_micros rejects TIMESTAMP_NTZ)
    epoch = F.to_timestamp(F.lit("1970-01-01 00:00:00"))
    tus = F.timestamp_diff("MICROSECOND", epoch, F.col(ts_col))
    a = events.select(
        F.col(key_col).alias("id_a"), F.col(user_col).alias("user_a"),
        _f64(lat_col).alias("_lat_a"), _f64(lng_col).alias("_lng_a"),
        tus.alias("_t_a"),
    )
    b = events.select(
        F.col(key_col).alias("id_b"), F.col(user_col).alias("user_b"),
        _f64(lat_col).alias("_lat_b"), _f64(lng_col).alias("_lng_b"),
        tus.alias("_t_b"),
    ).withColumn("_tb", F.expr(f"(_t_b - _t_b % {w_us}) DIV {w_us}"))
    tb_a = F.sequence(
        F.expr(f"(_t_a - {w_us}) DIV {w_us}"), F.expr(f"(_t_a + {w_us}) DIV {w_us}")
    )
    dt_us = F.abs(F.col("_t_a") - F.col("_t_b"))
    where = (
        (F.col("id_a") < F.col("id_b"))
        & (F.col("user_a") != F.col("user_b"))
        & (dt_us <= w_us)
    )
    return _pairs_within(a, b, radius, res, a_keys={"_tb": tb_a}, where=where).select(
        "id_a", "id_b", "user_a", "user_b", "dist2", dt_us.alias("dt_us")
    )


def geo_dbscan(
    points: DataFrame,
    key_col: str,
    eps: float,
    min_pts: int,
    res: int = 8,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Distributed DBSCAN over geo points.

    eps-pairs from the cell-blocked ``proximity_self_join`` (candidates are
    points/cell x cells/rect, never N^2), degree from one groupBy, clusters
    from pointer-jumping connected components over core-core edges
    (queries_text.min_label_cc, O(log L) rounds, lineage-checkpointed),
    border points join their MINIMUM core-neighbor cluster.

    Deterministic, scan-order-free convention (classic DBSCAN assigns
    borders to whichever core reached them first): core = >= min_pts
    NEIGHBORS within eps (self excluded); border = non-core with >= 1 core
    neighbor, cluster = min over those cores' cluster ids; cluster_id = min
    member key of the component; noise = cluster_id -1.

    Returns DataFrame(<key_col>, role: core|border|noise, cluster_id:long).
    Every stage is a keyed join/agg on bounded keys — dense-cell skew is
    ordinary join skew (AQE-splittable), and the CC loop's state is one row
    per CORE point, not per pair.
    """
    from .queries_text import min_label_cc

    # The eps-pair join is the expensive upstream plan here; materialize it
    # ONCE (round 6). Without this every downstream consumer — the degree
    # agg, BOTH sides of the core-core edge build, every CC round, the
    # border join and the noise anti-join — re-evaluated the whole
    # cell-blocked self-join from scratch (measured: the 300k bench row at
    # 36 s official, the 1M form at 81-97 s/rep, both dominated by repeated
    # pair-join recomputation, not by any single pass).
    pairs = (
        proximity_self_join(
            points, key_col, radius=eps, res=res, lat_col=lat_col, lng_col=lng_col
        )
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    deg = edges.groupBy("id_a").agg(F.count("*").alias("deg"))
    # cores is consumed 4x (both ce sides, core_lab, border anti-join) and
    # is tiny (one id per core point) — one more checkpoint keeps the
    # degree agg from running 4x.
    cores = (
        deg.where(F.col("deg") >= min_pts)
        .select(F.col("id_a").alias("_k"))
        .localCheckpoint()
    )
    ce = (
        edges.join(cores.select(F.col("_k").alias("id_a")), "id_a")
        .join(cores.select(F.col("_k").alias("id_b")), "id_b")
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    labels, _ = min_label_cc(ce, nodes=cores.select(F.col("_k").alias("doc_id")))
    core_lab = cores.join(labels, cores["_k"] == labels["doc_id"], "left").select(
        cores["_k"],
        F.coalesce("canon_id", cores["_k"]).cast("long").alias("cluster_id"),
    )
    # anti-join FIRST: the id_a∉cores filter and the id_b cluster attach
    # are on independent keys, so the reorder is exact — and it prunes the
    # 2x-pairs edge table to just non-core-origin edges (a small minority
    # in any dense regime) before the wider core_lab join (guide §3:
    # pre-filter the big side).
    border = (
        edges.join(cores.select(F.col("_k").alias("id_a")), "id_a", "left_anti")
        .join(
            core_lab.select(
                F.col("_k").alias("id_b"), F.col("cluster_id").alias("_cid")
            ),
            "id_b",
        )
        .groupBy("id_a")
        .agg(F.min("_cid").alias("cluster_id"))
        .select(F.col("id_a").alias("_k"), "cluster_id")
    )
    # assigned is consumed twice (noise anti-join + final union) and is one
    # small row per non-noise point; materialize so the border join/agg
    # chain runs once.
    assigned = (
        core_lab.select("_k", F.lit("core").alias("role"), "cluster_id")
        .union(border.select("_k", F.lit("border").alias("role"), "cluster_id"))
        .localCheckpoint()
    )
    noise = (
        points.select(F.col(key_col).alias("_k"))
        .join(assigned.select("_k"), "_k", "left_anti")
        .select(
            "_k",
            F.lit("noise").alias("role"),
            F.lit(-1).cast("long").alias("cluster_id"),
        )
    )
    return assigned.union(noise).withColumnRenamed("_k", key_col)
