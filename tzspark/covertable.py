"""Cover-as-table resolve: the broadcast-free lookup path.

The default engine broadcasts the whole CompiledIndex to every executor
(engine.assign_timezones) — right up to the point where the zone set outgrows
the broadcast budget (142 MB at the synthetic reference operating point;
real timezone-boundary-builder coastlines are 20k-vertex rings,
/root/reference/README.md:9, and a 10x richer or multi-tenant zone table
breaks it). This module is the other physical strategy for the SAME logical
operator (SURVEY.md §2.3 J1 names it explicitly:
``points.join(cells_df, 'cell_id') + PIP``): the compiled cover is laid out
as two RELATIONAL tables and the probe becomes cell-id equi-joins —
shuffle-partitioned like any other big join, no driver-side structure at all.

Tables (both derivable from a CompiledIndex, persistable as parquet keyed by
the existing content hash):

* interior(res, cell_id, zmin)       — full-claim cells per resolution; zmin
  is the min zone_id claiming the cell (resolve's argmin only ever needs it)
* boundary(cell_id, zone_id, ea/eb lat/lng arrays) — one row per
  (max-res boundary cell, candidate zone) carrying the pruned edge subset

and for the kNN fallback:

* knn(knn_cell, zone_id, min/max lat/lng) — the exact coarse-cell candidate
  table (cells.py _compile_knn_table) as rows; the clamp-distance argmin is
  then PURE column arithmetic + min(struct(dist2, zone_id)) — no UDF at all.

Semantics are pinned equal to the broadcast kernels (tests/test_covertable.py
and the q39/q40 driver oracles — same SQL oracles as q11/q12).

Scale shape: the points side shuffles only (key, lat, lng, cell_id); the
cover side shuffles once and can be bucketed/persisted. Skewed boundary
cells (a dense city cell with many candidates) are ordinary join skew —
AQE's skewJoin splitting applies, unlike a broadcast whose cost is all-or-
nothing per executor.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cells import DEFAULT_KNN_RES, CompiledIndex, _ragged_ramp, cell_id_col
from .geom import F32, ragged_parity

INTERIOR_SCHEMA = T.StructType(
    [
        T.StructField("res", T.IntegerType(), False),
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("zmin", T.IntegerType(), False),
    ]
)

BOUNDARY_SCHEMA = T.StructType(
    [
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("zone_id", T.IntegerType(), False),
        T.StructField("ea_lat", T.ArrayType(T.FloatType()), False),
        T.StructField("ea_lng", T.ArrayType(T.FloatType()), False),
        T.StructField("eb_lat", T.ArrayType(T.FloatType()), False),
        T.StructField("eb_lng", T.ArrayType(T.FloatType()), False),
    ]
)

KNN_SCHEMA = T.StructType(
    [
        T.StructField("knn_cell", T.LongType(), False),
        T.StructField("zone_id", T.IntegerType(), False),
        T.StructField("min_lat", T.DoubleType(), False),
        T.StructField("min_lng", T.DoubleType(), False),
        T.StructField("max_lat", T.DoubleType(), False),
        T.StructField("max_lng", T.DoubleType(), False),
    ]
)


def _interior_arrow(idx: CompiledIndex):
    import pyarrow as pa

    res_parts, cell_parts, zmin_parts = [], [], []
    for r in range(idx.base_res, idx.max_res + 1):
        cells, off, zl = idx.full[r]
        if len(cells) == 0:
            continue
        res_parts.append(np.full(len(cells), r, np.int32))
        cell_parts.append(cells)
        # full-claim lists are sorted by zone index == zone_id order, so the
        # first element IS the argmin zone (same shortcut resolve_points uses)
        zmin_parts.append(idx.zone_ids[zl[off[:-1]]].astype(np.int32))
    if not res_parts:
        return pa.table(
            {"res": pa.array([], pa.int32()), "cell_id": pa.array([], pa.int64()),
             "zmin": pa.array([], pa.int32())}
        )
    return pa.table(
        {
            "res": np.concatenate(res_parts),
            "cell_id": np.concatenate(cell_parts),
            "zmin": np.concatenate(zmin_parts),
        }
    )


def _boundary_arrow(idx: CompiledIndex):
    import pyarrow as pa

    if idx.b_cells is None or len(idx.b_cells) == 0:
        empty_list = pa.array([], pa.list_(pa.float32()))
        return pa.table(
            {"cell_id": pa.array([], pa.int64()), "zone_id": pa.array([], pa.int32()),
             "ea_lat": empty_list, "ea_lng": empty_list,
             "eb_lat": empty_list, "eb_lng": empty_list}
        )
    cnt = np.diff(idx.b_off)
    cell_per_cand = np.repeat(idx.b_cells, cnt)
    zid = idx.zone_ids[idx.b_zone].astype(np.int32)
    if idx.b_ea_lat is not None:  # materialized contiguous edge subsets
        ea_lat, ea_lng = idx.b_ea_lat, idx.b_ea_lng
        eb_lat, eb_lng = idx.b_eb_lat, idx.b_eb_lng
    else:  # index form: gather once from the global edge arrays
        g = idx.b_edge_idx
        ea_lat, ea_lng = idx.ea_lat[g], idx.ea_lng[g]
        eb_lat, eb_lng = idx.eb_lat[g], idx.eb_lng[g]
    offs = idx.b_edge_off.astype(np.int32)

    def lst(v):
        return pa.ListArray.from_arrays(pa.array(offs), pa.array(v))

    return pa.table(
        {
            "cell_id": cell_per_cand,
            "zone_id": zid,
            "ea_lat": lst(ea_lat),
            "ea_lng": lst(ea_lng),
            "eb_lat": lst(eb_lat),
            "eb_lng": lst(eb_lng),
        }
    )


def _knn_arrow(idx: CompiledIndex):
    import pyarrow as pa

    cnt = np.diff(idx.knn_off)
    cells = np.repeat(np.arange(len(cnt), dtype=np.int64), cnt)
    zi = idx.knn_zidx.astype(np.int64)
    bb = idx.zone_bbox.astype(np.float64)
    return pa.table(
        {
            "knn_cell": cells,
            "zone_id": idx.zone_ids[zi].astype(np.int32),
            "min_lat": bb[zi, 0],
            "min_lng": bb[zi, 1],
            "max_lat": bb[zi, 2],
            "max_lng": bb[zi, 3],
        }
    )


def _warehouse_dir(spark: SparkSession) -> str:
    d = spark.conf.get("spark.sql.warehouse.dir")
    return d[5:] if d.startswith("file:") else d


def _df(spark: SparkSession, tbl, schema) -> DataFrame:
    try:
        return spark.createDataFrame(tbl, schema=schema)  # pyarrow Table path
    except Exception:
        return spark.createDataFrame(tbl.to_pandas(), schema=schema)


class CoverTables:
    """The compiled cover as three DataFrames (interior / boundary / knn).

    ``keys`` names extra partition columns present in all three tables
    (e.g. ('tenant',) after union_tenant_covers); every probe join then
    matches on keys + cell columns, so MANY zone sets resolve in ONE job.
    """

    def __init__(self, interior: DataFrame, boundary: DataFrame, knn: DataFrame,
                 base_res: int, max_res: int, knn_res: int,
                 keys: tuple = ()):
        self.interior = interior
        self.boundary = boundary
        self.knn = knn
        self.base_res = base_res
        self.max_res = max_res
        self.knn_res = knn_res
        self.keys = tuple(keys)

    @classmethod
    def from_index(cls, spark: SparkSession, idx: CompiledIndex) -> "CoverTables":
        return cls(
            _df(spark, _interior_arrow(idx), INTERIOR_SCHEMA),
            _df(spark, _boundary_arrow(idx), BOUNDARY_SCHEMA),
            _df(spark, _knn_arrow(idx), KNN_SCHEMA),
            idx.base_res, idx.max_res, idx.knn_res or DEFAULT_KNN_RES,
        )

    @classmethod
    def union_tenants(
        cls, spark: SparkSession, covers: dict
    ) -> "CoverTables":
        """Union per-tenant compiled covers into ONE tenant-keyed cover.

        This is the multi-tenant regime that motivates the join path in the
        first place: N zone sets whose combined size exceeds any broadcast
        budget become rows of shared tables, and the probe is still a
        single shuffle-partitioned job — join keys (tenant, cell_id). All
        tenants must share the same resolutions (one compile config).
        ``covers`` maps tenant id -> CompiledIndex.
        """
        parts = {t: cls.from_index(spark, idx) for t, idx in covers.items()}
        first = next(iter(parts.values()))
        for t, ct in parts.items():
            if (ct.base_res, ct.max_res, ct.knn_res) != (
                first.base_res, first.max_res, first.knn_res
            ):
                raise ValueError(f"tenant {t!r} compiled with different resolutions")

        def _u(pick):
            dfs = [pick(ct).withColumn("tenant", F.lit(t)) for t, ct in parts.items()]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d)
            return out

        return cls(
            _u(lambda c: c.interior), _u(lambda c: c.boundary), _u(lambda c: c.knn),
            first.base_res, first.max_res, first.knn_res, keys=("tenant",),
        )

    def save(self, path: str):
        """Persist as parquet snapshot dirs (one per table + a meta row).
        Callers key ``path`` by the zone-content hash (api._content_key) so
        a changed zone table can never read a stale cover."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        self.interior.write.mode("overwrite").parquet(f"{path}/interior")
        self.boundary.write.mode("overwrite").parquet(f"{path}/boundary")
        self.knn.write.mode("overwrite").parquet(f"{path}/knn")
        with open(f"{path}/meta.json", "w") as f:
            json.dump({"base_res": self.base_res, "max_res": self.max_res,
                       "knn_res": self.knn_res, "keys": list(self.keys)}, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "CoverTables":
        import json

        with open(f"{path}/meta.json") as f:
            meta = json.load(f)
        return cls(
            spark.read.parquet(f"{path}/interior"),
            spark.read.parquet(f"{path}/boundary"),
            spark.read.parquet(f"{path}/knn"),
            meta["base_res"], meta["max_res"], meta["knn_res"],
            keys=tuple(meta.get("keys", ())),
        )

    # -- bucketed layout: the cover never re-shuffles ------------------------
    #
    # The cover is write-once probe-many; bucketing each table on EXACTLY its
    # probe join keys makes every later resolve shuffle ONLY the narrow
    # points side — the cover-side Exchange (the dominant shuffle volume:
    # ~208 MB of boundary edges at reference scale, Nx that multi-tenant)
    # disappears from every probe plan. Iceberg analog: bucket(n, keys)
    # partition transform. Bucket cols must EQUAL the join keys — a strict
    # subset makes the planner disable the bucketed scan (measured).

    def interior_res_levels(self):
        """Sorted resolutions that actually carry interior cells, memoized
        per CoverTables instance (a one-off <= (max_res-base_res+1)-row
        metadata read, the partition-pruning analog for the probe side).

        The probe explode enumerates a point's ancestor cell per
        resolution; a resolution with ZERO interior cells can never match,
        so skipping it is exact regardless of data. At the world operating
        point the cover holds interior cells only at res 9-10, so this
        cuts the interior probe exchange from 7 to 2 rows per point."""
        if getattr(self, "_res_levels", None) is None:
            rows = self.interior.select("res").distinct().collect()
            self._res_levels = sorted(r["res"] for r in rows)
        return self._res_levels

    def _bucket_specs(self):
        ks = list(self.keys)
        return [
            ("interior", self.interior, ks + ["res", "cell_id"]),
            ("boundary", self.boundary, ks + ["cell_id"]),
            ("knn", self.knn, ks + ["knn_cell"]),
        ]

    def save_bucketed(self, spark: SparkSession, prefix: str, n_buckets: int = 32):
        """Persist the three cover tables BUCKETED+SORTED on their probe join
        keys as catalog tables ``{prefix}_{interior,boundary,knn}`` plus a
        meta sidecar in the warehouse dir for cross-session re-registration
        (the in-memory catalog forgets bucket metadata between sessions; the
        sidecar lets load_bucketed re-declare the same spec over the same
        files)."""
        import json
        import os

        import os as _os

        wh = _warehouse_dir(spark)
        for suffix, df, cols in self._bucket_specs():
            t = f"{prefix}_{suffix}"
            # EXTERNAL (explicit path): the content-addressed files outlive
            # any catalog entry — dropping the table never deletes the cover.
            # Repartition on the bucket keys first: without it every writer
            # partition emits a slice of every bucket (P x B small files; a
            # bucket's scan task then opens P files), with it each bucket is
            # exactly one file.
            (
                df.repartition(n_buckets, *[F.col(c) for c in cols])
                .write.mode("overwrite")
                .bucketBy(n_buckets, *cols)
                .sortBy(*cols)
                .option("path", _os.path.join(wh, t))
                .saveAsTable(t)
            )
        meta = {
            "base_res": self.base_res, "max_res": self.max_res,
            "knn_res": self.knn_res, "keys": list(self.keys),
            "n_buckets": n_buckets,
        }
        with open(os.path.join(_warehouse_dir(spark), f"{prefix}_meta.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def bucketed_exists(cls, spark: SparkSession, prefix: str) -> bool:
        import os

        return os.path.exists(
            os.path.join(_warehouse_dir(spark), f"{prefix}_meta.json")
        )

    @classmethod
    def load_bucketed(cls, spark: SparkSession, prefix: str) -> "CoverTables":
        """Open a save_bucketed cover. If the session catalog does not know
        the tables yet (fresh session over an existing warehouse), re-declare
        them as external bucketed tables over the written files — bucket ids
        are encoded in the part-file names, so the re-declared spec reads
        bucket-aware."""
        import json
        import os

        wh = _warehouse_dir(spark)
        with open(os.path.join(wh, f"{prefix}_meta.json")) as f:
            meta = json.load(f)
        ks = list(meta.get("keys", ()))
        specs = [
            ("interior", ks + ["res", "cell_id"]),
            ("boundary", ks + ["cell_id"]),
            ("knn", ks + ["knn_cell"]),
        ]
        dfs = {}
        for suffix, cols in specs:
            t = f"{prefix}_{suffix}"
            if not spark.catalog.tableExists(t):
                loc = os.path.join(wh, t)
                sch = spark.read.parquet(loc).schema
                col_sql = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in sch.fields
                )
                bcols = ", ".join(f"`{c}`" for c in cols)
                spark.sql(
                    f"CREATE TABLE {t} ({col_sql}) USING PARQUET "
                    f"CLUSTERED BY ({bcols}) SORTED BY ({bcols}) "
                    f"INTO {meta['n_buckets']} BUCKETS LOCATION '{loc}'"
                )
            dfs[suffix] = spark.table(t)
        return cls(
            dfs["interior"], dfs["boundary"], dfs["knn"],
            meta["base_res"], meta["max_res"], meta["knn_res"],
            keys=tuple(ks),
        )


def _pip_filter_arrow(jb: DataFrame, carry: list) -> DataFrame:
    """(joined point x boundary-candidate rows) -> (_k, *carry, cand) for
    rows whose point lies INSIDE the candidate's pruned edge subset, as one
    mapInArrow stage. Each batch's four edge-list columns are flattened
    from their Arrow values/offsets buffers into one ragged edge table for
    geom.ragged_parity, the same float32 even-odd ray cast the broadcast
    probe (cells._resolve_pairs) refines with. Parity over the pruned
    subset == parity over the full ring (the cells._pip_edge_subset
    invariant the boundary table carries)."""
    import pyarrow as pa

    in_schema = jb.schema
    out_schema = T.StructType(
        [in_schema["_k"]]
        + [in_schema[c] for c in carry]
        + [T.StructField("cand", T.IntegerType(), False)]
    )
    sel = jb.select(
        "_k", "_lat", "_lng", "zone_id",
        "ea_lat", "ea_lng", "eb_lat", "eb_lng",
    )
    meta_cols = ["_k"] + list(carry)  # carry ⊆ {_lat, _lng}, already in sel

    def _flat(col):
        """list<float> column -> (row-contiguous float32 values, counts)."""
        off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        vals = col.values.to_numpy(zero_copy_only=False)
        counts = np.diff(off)
        return vals[_ragged_ramp(off[:-1], counts)].astype(F32, copy=False), counts

    def _run(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ci = {name: i for i, name in enumerate(b.schema.names)}
            pl = b.column(ci["_lat"]).to_numpy(zero_copy_only=False).astype(F32)
            pg = b.column(ci["_lng"]).to_numpy(zero_copy_only=False).astype(F32)
            a_lat, counts = _flat(b.column(ci["ea_lat"]))
            a_lng, _ = _flat(b.column(ci["ea_lng"]))
            b_lat, _ = _flat(b.column(ci["eb_lat"]))
            b_lng, _ = _flat(b.column(ci["eb_lng"]))
            out = ragged_parity(pl, pg, a_lat, a_lng, b_lat, b_lng, counts)
            if not out.any():
                continue
            keep = pa.array(out)
            arrs = [b.column(ci[c]).filter(keep) for c in meta_cols]
            arrs.append(
                pa.array(
                    b.column(ci["zone_id"]).to_numpy(zero_copy_only=False)[out]
                    .astype(np.int32)
                )
            )
            yield pa.RecordBatch.from_arrays(
                arrs, names=[f.name for f in out_schema.fields]
            )

    return sel.mapInArrow(_run, out_schema)


def _resolve_cands(
    pts: DataFrame, cover: "CoverTables", carry_latlng: bool = False
) -> DataFrame:
    """(_k, [keys...], _lat, _lng) -> (_k, _zid): argmin containing zone per
    key, MATCHED keys only. Interior claims join on (keys, res, ancestor
    cell); boundary cells join on (keys, max-res cell) and refine with the
    pruned-edge float32 ray cast; both candidate streams min-aggregate per
    key. ``cover.keys`` columns (e.g. tenant) must be present in pts.

    carry_latlng=True additionally groups by (_lat, _lng) and keeps them on
    the output — for callers whose key is unique per point (the image
    path), this is the same grouping and saves a later map-back join. Do
    NOT set it when keys may repeat with different coords."""
    ks = list(cover.keys)
    pb = pts.withColumn(
        "cell_id", cell_id_col(F.col("_lat"), F.col("_lng"), cover.max_res)
    )
    jb = pb.join(cover.boundary.hint("shuffle_hash"), [*ks, "cell_id"])
    carry = ["_lat", "_lng"] if carry_latlng else []
    # coords ride along as first() aggregates (every row of a key carries
    # the SAME coords, so first is deterministic) — the agg stays keyed on
    # _k alone and its hash(_k) partitioning remains reusable by the
    # downstream key joins.
    carry_aggs = [F.first(c).alias(c) for c in carry]
    bm = _pip_filter_arrow(jb, carry)

    # interior probe: only the resolutions that CARRY interior cells
    # (interior_res_levels) — a res with no cells can never match, so the
    # explode shrinks from (max_res-base_res+1) rows/point to the live
    # levels (2 at the world operating point: probe exchange 7M -> 2M rows
    # at the 1M-image bench row).
    levels = cover.interior_res_levels()
    if not levels:
        return bm.groupBy("_k").agg(F.min("cand").alias("_zid"), *carry_aggs)
    anc = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("res"),
                    cell_id_col(F.col("_lat"), F.col("_lng"), r).alias("cell_id"),
                )
                for r in levels
            ]
        )
    ).alias("a")
    pi = pts.select("_k", *carry, *ks, anc).select(
        "_k", *carry, *ks, "a.res", "a.cell_id"
    )
    im = pi.join(
        cover.interior.hint("shuffle_hash"), [*ks, "res", "cell_id"]
    ).select("_k", *carry, F.col("zmin").alias("cand"))
    return im.unionAll(bm).groupBy("_k").agg(
        F.min("cand").alias("_zid"), *carry_aggs
    )


def _knn_best(
    pts: DataFrame, cover: "CoverTables", carry_latlng: bool = False
) -> DataFrame:
    """(_k, [keys...], _lat, _lng) -> (_k, _zid): nearest zone by squared
    MBR clamp distance (float64 from float32 coords, tie-break min zone_id)
    via the (keys, coarse-cell) candidate equi-join — pure column
    arithmetic, no UDF. carry_latlng as in _resolve_cands."""
    carry = ["_lat", "_lng"] if carry_latlng else []
    p = pts.withColumn(
        "knn_cell", cell_id_col(F.col("_lat"), F.col("_lng"), cover.knn_res)
    )
    j = p.join(cover.knn.hint("shuffle_hash"), [*cover.keys, "knn_cell"])
    la = F.col("_lat").cast("double")
    lg = F.col("_lng").cast("double")
    dlat = F.greatest(F.col("min_lat") - la, la - F.col("max_lat"), F.lit(0.0))
    dlng = F.greatest(F.col("min_lng") - lg, lg - F.col("max_lng"), F.lit(0.0))
    d2 = dlat * dlat + dlng * dlng
    return (
        j.withColumn("d2", d2)
        .groupBy("_k")
        .agg(
            F.min(F.struct(F.col("d2"), F.col("zone_id"))).alias("b"),
            *[F.first(c).alias(c) for c in carry],
        )
        .select("_k", *carry, F.col("b.zone_id").alias("_zid"))
    )


def resolve_via_join(
    points: DataFrame,
    key_col: str,
    cover: CoverTables,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Broadcast-free resolve: (key, lat, lng) -> (points.*, zone_id).

    Semantics == cells.resolve_points (argmin zone_id over containing zones,
    -1 when none; float32 half-open PIP):

    * interior claims: the point's ancestor cell at EACH resolution joins the
      interior table on (res, cell_id) — one explode into base..max thin rows
      per point, one shuffle-partitioned equi-join,
    * boundary cells: the max-res cell joins the boundary table on cell_id;
      the pruned-edge float32 ray cast runs in a pandas UDF over the joined
      candidate fragments,
    * argmin: min() over both candidate streams per key, left-joined back.

    Joins are hinted shuffle_hash on the cover side — the point of this path
    is that NOTHING is broadcast, so it keeps working when the cover is 10x
    the driver's budget. (For covers that DO fit, engine.assign_timezones'
    broadcast probe is the faster physical strategy; this is the same logical
    operator at the other end of the size regime.)
    """
    pts = points.select(
        F.col(key_col).alias("_k"),
        F.col(lat_col).cast("float").alias("_lat"),
        F.col(lng_col).cast("float").alias("_lng"),
        *[F.col(k) for k in cover.keys],
    )
    cands = _resolve_cands(pts, cover)
    return (
        points.join(cands, F.col(key_col) == F.col("_k"), "left")
        .drop("_k")
        .withColumn("zone_id", F.coalesce(F.col("_zid"), F.lit(-1)).cast("int"))
        .drop("_zid")
    )


def knn_via_join(
    points: DataFrame,
    key_col: str,
    cover: CoverTables,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Broadcast-free kNN fallback: nearest zone by squared MBR clamp
    distance, tie-break min zone_id — cells.knn_fallback as a relational
    plan: coarse-cell equi-join against the exact candidate table, clamp
    distance as pure column arithmetic (float64 from float32 coords, the
    same formula as the q12 SQL oracle), argmin via min(struct(dist2, id)).
    No UDF anywhere."""
    pts = points.select(
        F.col(key_col).alias("_k"),
        F.col(lat_col).cast("float").alias("_lat"),
        F.col(lng_col).cast("float").alias("_lng"),
        *[F.col(k) for k in cover.keys],
    )
    best = _knn_best(pts, cover)
    return (
        points.join(best, F.col(key_col) == F.col("_k"), "inner")
        .drop("_k")
        .withColumn("zone_id", F.col("_zid").cast("int"))
        .drop("_zid")
    )


def assign_via_join(
    points: DataFrame,
    key_col: str,
    cover: CoverTables,
    lat_col: str = "lat",
    lng_col: str = "lng",
    persist: bool = True,
) -> DataFrame:
    """resolve_via_join + kNN fallback for unmatched points — the full
    engine assignment (engine.assign_udf semantics) with zero broadcasts.
    Adds zone_id + via_knn to ``points``.

    Shape: the heavy ``points`` plan is consumed exactly ONCE (the final
    key join); resolve and kNN run over a NARROW (key, lat, lng) projection
    whose per-key result is a (key, zone_id, via_knn) map. With
    persist=True (default) the narrow projection and the map are
    MEMORY_AND_DISK-cached — without it, the matched/unmatched branching
    re-evaluated the whole upstream plan per consumer (for the image front
    half: the parquet scan + GPS-extract UDF appeared 6x in the static
    plan). Streaming callers pass persist=False: per-microbatch persists
    accumulate across triggers.
    """
    from pyspark.storagelevel import StorageLevel

    pts = points.select(
        F.col(key_col).alias("_k"),
        F.col(lat_col).cast("float").alias("_lat"),
        F.col(lng_col).cast("float").alias("_lng"),
        *[F.col(k) for k in cover.keys],
    )
    if persist:
        pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
    cands = _resolve_cands(pts, cover)  # (_k, _zid) for MATCHED keys only
    if persist:
        cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    un = pts.join(cands.select("_k"), "_k", "left_anti")
    kbest = _knn_best(un, cover)  # (_k, _zid) for the unmatched keys
    zmap = cands.withColumn("via_knn", F.lit(False)).unionByName(
        kbest.withColumn("via_knn", F.lit(True))
    )
    return (
        points.join(zmap, F.col(key_col) == F.col("_k"), "inner")
        .drop("_k")
        .withColumn("zone_id", F.col("_zid").cast("int"))
        .drop("_zid")
    )


def assign_images_via_join(
    images: DataFrame,
    cover: CoverTables,
    key_col: str = "image_id",
    persist: bool = True,
) -> DataFrame:
    """The image-table front half + the join assignment: GPS extract (header
    bytes only cross into Python), quarantine (bad blob OR out-of-domain
    coords), cell encode, then assign_via_join. Mirrors
    engine.assign_timezones' row semantics with zero broadcasts; used by
    api.TimezoneLookup.assign_join (batch) and streaming.stream_assign_join
    (per micro-batch)."""
    from pyspark.storagelevel import StorageLevel

    from .engine import extract_gps_udf, gps_header_col

    ks = list(cover.keys)
    # Narrow decision branch (round 6): ONLY the key [+ tenant keys] and the
    # 17-byte header prefix enter Python; the old shape passed the FULL
    # image frame through the quarantine filter into assign_via_join, whose
    # final key join then re-ran the scan + extract UDF a second time just
    # to re-derive the filter (the only non-pruned dependency). The zone
    # map's key set equals the non-quarantined key set by construction
    # (every surviving point gets a zone via resolve or kNN), so the heavy
    # side can be the RAW image table — no Python stage, scan pruned to the
    # consumer's columns — with lat/lng re-attached from the persisted
    # narrow projection and cell_id/quarantined recomputed/constant.
    # asNondeterministic: the quarantine filter references the UDF's struct
    # fields, and Catalyst otherwise re-instantiates the UDF below the
    # pushed filter — two stacked ArrowEvalPython nodes per evaluation
    # (the q106 double-eval defect; guide-pattern guard, engine.lookup_udf
    # does the same). The function itself is pure.
    g = images.select(
        F.col(key_col).alias("_k"),
        *ks,
        extract_gps_udf().asNondeterministic()(
            gps_header_col(F.col("bytes"))
        ).alias("g"),
    )
    pts = g.where(
        F.col("g.gps_ok")
        & F.col("g.lat").between(-90.0, 90.0)
        & F.col("g.lng").between(-180.0, 180.0)
    ).select(
        "_k", *ks, F.col("g.lat").alias("_lat"), F.col("g.lng").alias("_lng")
    )
    if persist:
        pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
    # carry_latlng: image_id is unique per row, so grouping the candidate
    # streams by (_k, _lat, _lng) is the same grouping and the zone map
    # comes out already carrying the coords — no separate map-back join.
    cands = _resolve_cands(pts, cover, carry_latlng=True)
    if persist:
        cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    un = pts.join(cands.select("_k"), "_k", "left_anti")
    kbest = _knn_best(un, cover, carry_latlng=True)
    attach = cands.withColumn("via_knn", F.lit(False)).unionByName(
        kbest.withColumn("via_knn", F.lit(True))
    )
    return (
        images.join(attach, F.col(key_col) == F.col("_k"), "inner")
        .select(
            *images.columns,
            F.col("_lat").alias("lat"),
            F.col("_lng").alias("lng"),
            F.lit(False).alias("quarantined"),
            cell_id_col(F.col("_lat"), F.col("_lng"), cover.max_res).alias(
                "cell_id"
            ),
            "via_knn",
            F.col("_zid").cast("int").alias("zone_id"),
        )
    )


# ---------------------------------------------------------------------------
# distance-bounded (radius) join
# ---------------------------------------------------------------------------


def _grid_rowcol_range(lat_lo, lat_hi, lng_lo, lng_hi, res: int):
    """(row0, row1, col0, col1) Columns of the grid cells a [lat_lo,lat_hi] x
    [lng_lo,lng_hi] rectangle overlaps at ``res`` — the same clamp-to-domain
    arithmetic as cells.cell_id_col, applied to a range instead of a point."""
    n = 1 << res

    def _row(x):
        return F.least(
            F.greatest(F.floor((x + 90.0) / 180.0 * n).cast("bigint"), F.lit(0)),
            F.lit(n - 1),
        )

    def _col(x):
        return F.least(
            F.greatest(F.floor((x + 180.0) / 360.0 * n).cast("bigint"), F.lit(0)),
            F.lit(n - 1),
        )

    return _row(lat_lo), _row(lat_hi), _col(lng_lo), _col(lng_hi)


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
    disc bound) via sequence()+explode, and candidates meet in a cell
    equi-join. Any zone within r of a point has a bbox intersecting the
    point's rectangle, and two overlapping rectangles always share at least
    one grid cell both enumerated — so the candidate set is complete while
    staying (cells/point x zones/cell), never |points| x |zones|. The exact
    clamp-distance filter (float64 from float32 coords, the q12 oracle
    formula) keeps true pairs; pairs met through several shared cells
    collapse via distinct on deterministic columns.

    100 TB shape: shuffles on cell id like every cover probe; dense-cell
    skew is ordinary join skew (AQE skew-split applies) and the exploded
    zone side is write-once — persist it bucketed on `cell` exactly like
    save_bucketed's cover tables to take its Exchange off the steady path.

    Returns (key, zone_id:int, dist2:double) — one row per qualifying pair.
    """
    n = 1 << res
    r = float(radius)

    la = F.col(lat_col).cast("float").cast("double")
    lg = F.col(lng_col).cast("float").cast("double")
    pr0, pr1, pc0, pc1 = _grid_rowcol_range(la - r, la + r, lg - r, lg + r, res)
    p = (
        points.select(
            F.col(key_col).alias("_k"),
            la.alias("_lat"),
            lg.alias("_lng"),
            pr0.alias("_r0"), pr1.alias("_r1"), pc0.alias("_c0"), pc1.alias("_c1"),
        )
        .withColumn("_row", F.explode(F.sequence("_r0", "_r1")))
        .withColumn("_col", F.explode(F.sequence("_c0", "_c1")))
        .select("_k", "_lat", "_lng", (F.col("_row") * n + F.col("_col")).alias("_cell"))
    )

    zr0, zr1, zc0, zc1 = _grid_rowcol_range(
        F.col("min_lat"), F.col("max_lat"), F.col("min_lng"), F.col("max_lng"), res
    )
    z = (
        zones_bbox.select(
            F.col("zone_id").cast("int").alias("zone_id"),
            "min_lat", "min_lng", "max_lat", "max_lng",
            zr0.alias("_r0"), zr1.alias("_r1"), zc0.alias("_c0"), zc1.alias("_c1"),
        )
        .withColumn("_row", F.explode(F.sequence("_r0", "_r1")))
        .withColumn("_col", F.explode(F.sequence("_c0", "_c1")))
        .select(
            "zone_id", "min_lat", "min_lng", "max_lat", "max_lng",
            (F.col("_row") * n + F.col("_col")).alias("_cell"),
        )
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
    at the same spot".

    Blocking is asymmetric, which makes dedup free: the LEFT side
    enumerates every grid cell its [lat+-r, lng+-r] rectangle overlaps
    (sequence()+explode, as in radius_join); the RIGHT side maps each point
    to its single containing cell. If |a-b| <= r then b's point lies inside
    a's rectangle, so b's one cell is among a's enumerated cells — complete
    — and because the right side contributes exactly one cell per point,
    each candidate pair arises in exactly one cell: no distinct needed.
    ``a.key < b.key`` keeps one orientation. Candidates are bounded by
    points-per-cell x cells-per-rectangle; dense-cell skew is ordinary join
    skew (AQE-splittable), never |N|^2.

    Returns (id_a, id_b, dist2:double), id_a < id_b.
    """
    res = _blocking_res(res, radius)
    n = 1 << res
    r = float(radius)

    la = F.col(lat_col).cast("float").cast("double")
    lg = F.col(lng_col).cast("float").cast("double")
    r0, r1, c0, c1 = _grid_rowcol_range(la - r, la + r, lg - r, lg + r, res)
    a = (
        points.select(
            F.col(key_col).alias("id_a"), la.alias("_lat_a"), lg.alias("_lng_a"),
            r0.alias("_r0"), r1.alias("_r1"), c0.alias("_c0"), c1.alias("_c1"),
        )
        .withColumn("_row", F.explode(F.sequence("_r0", "_r1")))
        .withColumn("_col", F.explode(F.sequence("_c0", "_c1")))
        .select(
            "id_a", "_lat_a", "_lng_a",
            (F.col("_row") * n + F.col("_col")).alias("_cell"),
        )
    )
    b = points.select(
        F.col(key_col).alias("id_b"), la.alias("_lat_b"), lg.alias("_lng_b"),
        cell_id_col(F.col(lat_col), F.col(lng_col), res).alias("_cell"),
    )
    j = a.join(b.hint("shuffle_hash"), "_cell").where(F.col("id_a") < F.col("id_b"))
    dlat = F.col("_lat_a") - F.col("_lat_b")
    dlng = F.col("_lng_a") - F.col("_lng_b")
    d2 = dlat * dlat + dlng * dlng
    return (
        j.withColumn("dist2", d2)
        .where(F.col("dist2") <= r * r)
        .select("id_a", "id_b", "dist2")
    )


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
    degrees — proximity_self_join's asymmetric blocking without the
    self-dedup. The LEFT side enumerates every grid cell its [lat+-r,
    lng+-r] rectangle overlaps; the RIGHT side maps each point to its one
    containing cell, so each qualifying pair arises in exactly one cell
    (complete, duplicate-free, never |L| x |R|). ``carry_cols`` names right
    columns to keep on the pairs (e.g. the site's measurement for IDW).

    Returns (<left_key>, <right_key>, dist2:double, *carry_cols).
    """
    res = _blocking_res(res, radius)
    n = 1 << res
    r = float(radius)
    carry_cols = carry_cols or []

    la = F.col(lat_col).cast("float").cast("double")
    lg = F.col(lng_col).cast("float").cast("double")
    r0, r1, c0, c1 = _grid_rowcol_range(la - r, la + r, lg - r, lg + r, res)
    a = (
        left.select(
            F.col(left_key).alias("_kl"), la.alias("_lat_a"), lg.alias("_lng_a"),
            r0.alias("_r0"), r1.alias("_r1"), c0.alias("_c0"), c1.alias("_c1"),
        )
        .withColumn("_row", F.explode(F.sequence("_r0", "_r1")))
        .withColumn("_col", F.explode(F.sequence("_c0", "_c1")))
        .select(
            "_kl", "_lat_a", "_lng_a",
            (F.col("_row") * n + F.col("_col")).alias("_cell"),
        )
    )
    b = right.select(
        F.col(right_key).alias("_kr"), la.alias("_lat_b"), lg.alias("_lng_b"),
        cell_id_col(F.col(lat_col), F.col(lng_col), res).alias("_cell"),
        *carry_cols,
    )
    j = a.join(b.hint("shuffle_hash"), "_cell")
    dlat = F.col("_lat_a") - F.col("_lat_b")
    dlng = F.col("_lng_a") - F.col("_lng_b")
    return (
        j.withColumn("dist2", dlat * dlat + dlng * dlng)
        .where(F.col("dist2") <= r * r)
        .select(
            F.col("_kl").alias(left_key),
            F.col("_kr").alias(right_key),
            "dist2",
            *carry_cols,
        )
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
    res = _blocking_res(res, radius)
    n = 1 << res
    r = float(radius)
    w_us = int(window_s) * 1_000_000

    la = F.col(lat_col).cast("float").cast("double")
    lg = F.col(lng_col).cast("float").cast("double")
    # NTZ-safe epoch microseconds (unix_micros rejects TIMESTAMP_NTZ)
    epoch = F.to_timestamp(F.lit("1970-01-01 00:00:00"))
    tus = F.timestamp_diff("MICROSECOND", epoch, F.col(ts_col))
    r0, r1, c0, c1 = _grid_rowcol_range(la - r, la + r, lg - r, lg + r, res)
    a = (
        events.select(
            F.col(key_col).alias("id_a"), F.col(user_col).alias("user_a"),
            la.alias("_lat_a"), lg.alias("_lng_a"), tus.alias("_t_a"),
            r0.alias("_r0"), r1.alias("_r1"), c0.alias("_c0"), c1.alias("_c1"),
        )
        .withColumn("_row", F.explode(F.sequence("_r0", "_r1")))
        .withColumn("_col", F.explode(F.sequence("_c0", "_c1")))
        .withColumn(
            "_tb",
            F.explode(
                F.sequence(
                    F.expr(f"(_t_a - {w_us}) DIV {w_us}"),
                    F.expr(f"(_t_a + {w_us}) DIV {w_us}"),
                )
            ),
        )
        .select(
            "id_a", "user_a", "_lat_a", "_lng_a", "_t_a", "_tb",
            (F.col("_row") * n + F.col("_col")).alias("_cell"),
        )
    )
    b = events.select(
        F.col(key_col).alias("id_b"), F.col(user_col).alias("user_b"),
        la.alias("_lat_b"), lg.alias("_lng_b"), tus.alias("_t_b"),
        (tus - (tus % w_us)).cast("long").alias("_tbw"),
        cell_id_col(F.col(lat_col), F.col(lng_col), res).alias("_cell"),
    ).withColumn("_tb", F.expr(f"_tbw DIV {w_us}")).drop("_tbw")
    j = (
        a.join(b.hint("shuffle_hash"), ["_cell", "_tb"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("user_a") != F.col("user_b"))
        )
    )
    dlat = F.col("_lat_a") - F.col("_lat_b")
    dlng = F.col("_lng_a") - F.col("_lng_b")
    return (
        j.withColumn("dist2", dlat * dlat + dlng * dlng)
        .withColumn("dt_us", F.abs(F.col("_t_a") - F.col("_t_b")))
        .where((F.col("dist2") <= r * r) & (F.col("dt_us") <= w_us))
        .select("id_a", "id_b", "user_a", "user_b", "dist2", "dt_us")
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
