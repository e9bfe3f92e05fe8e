"""The compiled cover as shipped index files: how every lookup's index
reaches a Python worker.

A CoverTables is a handle from keys to index files (cells.save_index): one
file per zone set, one per tenant after union_tenants, each named by its
content hash and shipped once per Spark application (SparkContext.addFile).
Each Python worker maps a file once (cells.open_index, cached per process by
that hash), so an executor's workers share one copy in the page cache, as
the reference serves every lookup from one mmap store (timezone.go:19-27).
The engine's kernels (engine.LookupPlan, lookup_udf, assign_udf,
lookup_tile_onepass, zonal_channel_rollup) take the handle and read
``cover.value``; a tenant-keyed cover's kernel splits each Arrow batch on the
tenant column. Each row is probed in the task that reads it: no shuffle, no
salt, no join back, and a hot spot stays spread over the input's partitions.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cells import (
    CompiledIndex,
    cell_rowcol_col,
    explode_rect_cells,
    open_index,
    save_index,
)
from .engine import (
    ASSIGN_STRUCT,
    LOOKUP_STRUCT,
    LookupPlan,
    assign_kernel,
    assign_udf,
    gps_header_col,
    lookup_kernel,
    with_contained_zone,
)

_OPENED = {}  # index file name (its content hash) -> CompiledIndex, per process
_SHIPPED = set()  # (application id, file name) already given to addFile
_SPOOL = []  # this process's directory of from_index files


def _opened(path: str) -> CompiledIndex:
    """The index file ``path`` names, mapped once per process from the copy
    Spark shipped (SparkFiles: the driver's and every worker's)."""
    name = os.path.basename(path)
    idx = _OPENED.get(name)
    if idx is None:
        from pyspark import SparkFiles

        idx = _OPENED[name] = open_index(SparkFiles.get(name))
    return idx


def _write(idx: CompiledIndex) -> str:
    """Path of ``idx``'s index file, named by its content hash, in a
    directory removed when the process exits."""
    if not _SPOOL:
        _SPOOL.append(tempfile.mkdtemp(prefix="tzspark-index-"))
        atexit.register(shutil.rmtree, _SPOOL[0], True)
    tmp = os.path.join(_SPOOL[0], f".{os.getpid()}.tmp")
    path = os.path.join(_SPOOL[0], save_index(idx, tmp) + ".tzidx")
    os.replace(tmp, path)
    return path


class CoverTables:
    """The compiled cover as index files (see the module docstring).

    ``files`` maps a tenant (a str, or None for a single zone set) to the
    path of its index file; ``keys`` names the tenant column the points
    carry: ('tenant',) after union_tenants, () otherwise. ``value`` is the
    single zone set's index, mapped in the calling process.
    """

    def __init__(self, spark: SparkSession, files: dict, keys: tuple = ()):
        self.files = dict(files)
        self.keys = tuple(keys)
        first, *_ = map(open_index, self.files.values())  # each must open
        self.base_res, self.max_res, self.knn_res = first.base_res, first.max_res, first.knn_res
        # once per (application, file name): Spark rejects a second path
        # under a file name it already serves
        sc = spark.sparkContext
        for path in self.files.values():
            key = (sc.applicationId, os.path.basename(path))
            if key not in _SHIPPED:
                sc.addFile(path)
                _SHIPPED.add(key)

    @property
    def value(self) -> CompiledIndex:
        return _opened(self.files[None])

    def release(self):
        """Drop this process's mappings of the handle's files (a worker that
        still needs one maps it again)."""
        for path in self.files.values():
            _OPENED.pop(os.path.basename(path), None)

    @classmethod
    def from_index(cls, spark: SparkSession, idx: CompiledIndex) -> "CoverTables":
        return cls(spark, {None: _write(idx)})

    @classmethod
    def union_tenants(cls, spark: SparkSession, covers: dict) -> "CoverTables":
        """Per-tenant compiled covers as ONE tenant-keyed cover: one index
        file per tenant, and one probe that splits each batch on the
        points' tenant column (compared as a string), so N zone sets
        resolve in one job with no per-tenant broadcast. All tenants must
        share the same resolutions (one compile config). ``covers`` maps
        tenant id -> CompiledIndex."""
        if len({(i.base_res, i.max_res, i.knn_res) for i in covers.values()}) != 1:
            raise ValueError("tenants compiled with different resolutions")
        return cls(spark, {str(t): _write(i) for t, i in covers.items()}, ("tenant",))

    def save(self, path: str):
        """Persist as a directory of the index files plus meta.json, written
        last (load reads a dir without it as torn)."""
        os.makedirs(path, exist_ok=True)
        for p in self.files.values():
            shutil.copyfile(p, os.path.join(path, os.path.basename(p)))
        names = [[t, os.path.basename(p)] for t, p in self.files.items()]
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump({"keys": list(self.keys), "files": names}, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "CoverTables":
        """Open a saved cover. Raises ValueError when meta.json names no
        index file or a file fails cells.open_index (truncated, another
        layout version, arrays past its end)."""
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        files = {t: os.path.join(path, name) for t, name in meta.get("files", [])}
        if not files:
            raise ValueError(f"{path}: no index files")
        return cls(spark, files, meta.get("keys", ()))


def _no_zone(res: pa.StructArray) -> pa.StructArray:
    """``res`` with zone_id -1 and via_knn False on every row."""
    n = len(res)
    fill = {"zone_id": pa.array(np.full(n, -1, np.int32)),
            "via_knn": pa.array(np.zeros(n, bool))}
    return pa.StructArray.from_arrays(
        [fill.get(f.name, res.field(f.name)) for f in res.type], fields=list(res.type)
    )


def _by_tenant(cover: CoverTables, kernel, tenant: pa.Array, *cols) -> pa.StructArray:
    """``kernel(index, *cols)`` on each tenant's rows of one Arrow batch,
    against that tenant's index file; the rows come back in batch order.
    Rows of a tenant without an index (or of a null tenant) get zone_id -1
    and via_knn False."""
    enc = tenant.dictionary_encode()
    code = enc.indices.fill_null(-1).to_numpy(zero_copy_only=False)
    names = enc.dictionary.to_pylist()
    order = np.argsort(code, kind="stable")
    cut = np.searchsorted(code[order], np.arange(-1, len(names) + 1))
    parts = []
    for g in range(-1, len(names)):
        rows = pa.array(order[cut[g + 1] : cut[g + 2]])
        path = cover.files.get(names[g]) if g >= 0 else None
        out = kernel(_opened(path or next(iter(cover.files.values()))),
                     *(c.take(rows) for c in cols))
        parts.append(out if path else _no_zone(out))
    return pa.concat_arrays(parts).take(pa.array(np.argsort(order)))


def _tenant_probe(cover: CoverTables, kernel, struct):
    """``kernel`` split on the tenant column (_by_tenant) as a
    nondeterministic arrow_udf: a function of the kernel's Columns."""

    @F.arrow_udf(struct)
    def _probe(tenant: pa.Array, *cols: pa.Array) -> pa.Array:
        return _by_tenant(cover, kernel, tenant, *cols)

    probe = _probe.asNondeterministic()
    return lambda *cols: probe(F.col(cover.keys[0]).cast("string"), *cols)


def lookup_plan(cover: CoverTables, zone_dim: DataFrame = None) -> LookupPlan:
    """engine.LookupPlan over the cover's index files: the image lookup of
    assign_timezones (tzid attached only when ``zone_dim`` is given)."""
    probe = None
    if cover.keys:
        probe = _tenant_probe(cover, lookup_kernel, LOOKUP_STRUCT)(
            gps_header_col(F.col("bytes")))
    return LookupPlan(cover, zone_dim, cover.max_res, probe=probe)


def _assign_probe(cover: CoverTables):
    """(lat, lng) Columns -> the ASSIGN_STRUCT probe over the cover's index
    files. Nondeterministic, like q12's probe, so a filter on its fields is
    not copied below the projection (one Python crossing)."""
    if cover.keys:
        return _tenant_probe(cover, assign_kernel, ASSIGN_STRUCT)
    return assign_udf(cover).asNondeterministic()


def assign_via_join(points: DataFrame, cover: CoverTables,
                    lat_col: str = "lat", lng_col: str = "lng") -> DataFrame:
    """The full engine assignment (engine.assign_udf semantics, also over a
    tenant-keyed cover): adds zone_id + via_knn to ``points``, one row
    per input row. A point no zone contains gets its kNN zone (via_knn
    True); a null or NaN coordinate gets (-1, False). A tenant-keyed
    cover's ``keys`` column (tenant) must be present in ``points``. Nothing
    joins back on a key, so a repeated or null key is fine."""
    a = points.withColumn("_a", _assign_probe(cover)(F.col(lat_col), F.col(lng_col)))
    return a.select(*points.columns, "_a.zone_id", "_a.via_knn")


def resolve_via_join(points: DataFrame, cover: CoverTables,
                     lat_col: str = "lat", lng_col: str = "lng") -> DataFrame:
    """assign_via_join without the kNN answers: adds zone_id, the argmin
    containing zone (cells.resolve_points semantics), -1 when none."""
    return with_contained_zone(points, _assign_probe(cover), lat_col, lng_col)


def knn_via_join(points: DataFrame, cover: CoverTables,
                 lat_col: str = "lat", lng_col: str = "lng") -> DataFrame:
    """The kNN answers of assign_via_join (cells.knn_fallback semantics):
    the rows no zone contains, with their nearest zone as zone_id. Rows a
    zone contains and rows with no answer (null/NaN coordinates) drop out."""
    a = assign_via_join(points, cover, lat_col, lng_col)
    return a.where(F.col("via_knn")).drop("via_knn")


def assign_images_via_join(images: DataFrame, cover: CoverTables) -> DataFrame:
    """engine.assign_timezones' rows and columns without tzid: GPS extract,
    quarantine (bad blob OR out-of-domain coords) and the lookup in one
    Arrow crossing over the header prefix (lookup_plan). A tenant-keyed
    cover needs the tenant column in ``images``. Used by
    streaming.stream_assign_join."""
    return lookup_plan(cover).apply(images)


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
