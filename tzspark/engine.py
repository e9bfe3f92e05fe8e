"""The distributed pipeline: DataFrame plan + vectorized UDF kernels.

Spark-first re-expression of the reference's query lifecycle
(/root/reference/timezone.go:58-78 `Search`): the R-tree probe becomes a
broadcast compiled cell cover probed inside Arrow-batched pandas UDFs, the
per-point loop becomes one declarative DataFrame plan that Catalyst optimizes
(validity filter pushed to the scan, tzid attach as a broadcast hash join,
tile rollup as a salted two-phase aggregation).

Scale notes (the 100 TB design, tested at local[*]):
* the ONLY shuffle in the lookup path is none at all — GPS extract, cell
  encode, cover probe and kNN fallback are all per-row/narrow; tzid attach is
  a broadcast join; so the join scales linearly with executors,
* the compiled cover is broadcast once per job (tens of MB for the real
  timezone set — same order as the reference's ~50 MB mmap db),
* resolve + kNN run in ONE pass inside the UDF (no second scan, no cache of
  the matched/unmatched split); `via_knn` is emitted so downstream can audit,
* skewed tiles (dense urban cells) are handled at aggregation time by salted
  two-phase group-by + AQE (spark.sql.adaptive.skewJoin for join paths).

Per-task worker cost: every Spark Python task first runs PySpark's
`setup_spark_files`, which calls `importlib.invalidate_caches()`. On CPython
3.10-3.12 that re-parses the whole central directory of every cached zip
archive importer (16 in a worker, over pyspark.zip, the Spark jar and the
py4j zip: 26,672 entries in pure Python), 100-200 ms per task against ~55 ms of
lookup kernels for a 40k-image op. CPython 3.13 refreshes lazily. Importing
tzspark (which every worker does when it unpickles a kernel or a
CompiledIndex) installs a stat guard (`_zipimport.py`) so an unchanged
archive is not re-read; a rewritten or removed one still is. It is not a
custom `spark.python.daemon.module`, because executors that receive tzspark
as `--py-files` could not import the daemon. The layer it moves is
`engine.overhead_s` / `spark.executor_run_ms` in the benchmark's traced run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cells import (
    DEFAULT_MAX_RES,
    CompiledIndex,
    assign_points,
    cell_id_col,
    compile_cover,
    in_domain,
    resolve_points,
)
from .imagecodec import extract_gps_batch


def get_spark(
    app: str = "tzspark",
    master: str = None,
    shuffle_partitions: int = 32,
    extra_conf: dict = None,
) -> SparkSession:
    """Session tuned for the engine: AQE + Arrow on, skew join handling."""
    import os

    # executors' python workers must import tzspark no matter the caller's
    # cwd — the cluster equivalent is spark-submit --py-files tzspark.zip
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_parent + (os.pathsep + pp if pp else "")

    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        b = b.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # keep Arrow batch BUFFERS under G1's humongous threshold: with
        # multi-KB payload columns, 20k-row batches make ~24 MB on-heap
        # allocations (> half a G1 region) whose churn caused 3-5x GC stall
        # outliers; 4000 rows (~5 MB) removed them (tile 8M rows: 20-56 s
        # noisy -> 9-12 s stable) with no measurable cost on thin columns
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
    }
    conf.update(extra_conf or {})
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


# ---------------------------------------------------------------------------
# zone table (dimension + full ring table)
# ---------------------------------------------------------------------------

ZONE_DIM_SCHEMA = T.StructType(
    [
        T.StructField("zone_id", T.IntegerType(), False),
        T.StructField("tzid", T.StringType(), False),
        T.StructField("min_lat", T.FloatType(), False),
        T.StructField("min_lng", T.FloatType(), False),
        T.StructField("max_lat", T.FloatType(), False),
        T.StructField("max_lng", T.FloatType(), False),
    ]
)

ZONE_TABLE_SCHEMA = T.StructType(
    ZONE_DIM_SCHEMA.fields
    + [
        T.StructField("lats", T.ArrayType(T.FloatType()), False),
        T.StructField("lngs", T.ArrayType(T.FloatType()), False),
    ]
)


def _zone_meta_arrays(zones: list):
    """(sorted zones, int32 ids, tzid pa.array, float32 bbox matrix)."""
    import pyarrow as pa

    zs = sorted(zones, key=lambda z: z.zone_id)
    ids = np.fromiter((int(z.zone_id) for z in zs), np.int32, len(zs))
    tz = pa.array([z.tzid for z in zs], pa.string())
    bbox = np.array([z.bbox for z in zs], np.float32).reshape(len(zs), 4)
    return zs, ids, tz, bbox


def _pa_df(spark, table, schema):
    try:
        return spark.createDataFrame(table, schema=schema)
    except Exception:  # older session API: go through pandas
        return spark.createDataFrame(table.to_pandas(), schema=schema)


def zone_dim_df(spark: SparkSession, zones: list) -> DataFrame:
    """Small zone dimension (id, tzid, MBR) — always broadcast-joined.
    Arrow-built (round 6): the old row-tuple createDataFrame pickled every
    row through the driver (~1 s per 24k-zone call, paid per probe)."""
    import pyarrow as pa

    zs, ids, tz, bbox = _zone_meta_arrays(zones)
    t = pa.table(
        {
            "zone_id": ids,
            "tzid": tz,
            "min_lat": bbox[:, 0],
            "min_lng": bbox[:, 1],
            "max_lat": bbox[:, 2],
            "max_lng": bbox[:, 3],
        }
    )
    return _pa_df(spark, t, ZONE_DIM_SCHEMA)


def zone_table_df(spark: SparkSession, zones: list) -> DataFrame:
    """Full zone table incl. vertex rings — the engine analog of the
    reference's binary store rows (timezone.go:29-45 AddTimezone flatten).
    Arrow-built: rings go in as ONE concatenated float32 buffer + offsets
    (pa.ListArray) instead of per-vertex Python floats — the overlay bench
    layer (51,200 zones) went from seconds of driver pickling per call to
    a single columnar handoff."""
    import pyarrow as pa

    zs, ids, tz, bbox = _zone_meta_arrays(zones)
    counts = np.fromiter((len(z.ring_lat) for z in zs), np.int64, len(zs))
    total = int(counts.sum())
    if total > np.iinfo(np.int32).max:
        raise ValueError(f"{total} ring vertices overflow int32 list offsets")
    offs = np.zeros(len(zs) + 1, np.int32)
    offs[1:] = np.cumsum(counts)
    lat_vals = (
        np.concatenate([np.asarray(z.ring_lat, np.float32) for z in zs])
        if len(zs)
        else np.empty(0, np.float32)
    )
    lng_vals = (
        np.concatenate([np.asarray(z.ring_lng, np.float32) for z in zs])
        if len(zs)
        else np.empty(0, np.float32)
    )
    lats = pa.ListArray.from_arrays(pa.array(offs, pa.int32()), pa.array(lat_vals))
    lngs = pa.ListArray.from_arrays(pa.array(offs, pa.int32()), pa.array(lng_vals))
    t = pa.table(
        {
            "zone_id": ids,
            "tzid": tz,
            "min_lat": bbox[:, 0],
            "min_lng": bbox[:, 1],
            "max_lat": bbox[:, 2],
            "max_lng": bbox[:, 3],
            "lats": lats,
            "lngs": lngs,
        }
    )
    return _pa_df(spark, t, ZONE_TABLE_SCHEMA)


# ---------------------------------------------------------------------------
# vectorized UDF kernels
# ---------------------------------------------------------------------------

GPS_STRUCT = T.StructType(
    [
        T.StructField("lat", T.FloatType(), True),
        T.StructField("lng", T.FloatType(), True),
        T.StructField("gps_ok", T.BooleanType(), False),
    ]
)


def extract_gps_udf():
    """pandas_udf: image bytes -> (lat, lng, gps_ok). One np.frombuffer per
    Arrow batch over the fixed-width header prefix — no per-row parsing."""

    @F.pandas_udf(GPS_STRUCT)
    def _extract(b: pd.Series) -> pd.DataFrame:
        lat, lng, ok = extract_gps_batch(b.tolist())
        lat = lat.astype(np.float32)
        lng = lng.astype(np.float32)
        return pd.DataFrame({"lat": lat, "lng": lng, "gps_ok": ok})

    return _extract


def gps_header_col(bytes_col):
    """JVM-side header slice: only the 17-byte EXIF-style prefix crosses the
    Arrow boundary into Python, not the full image payload — ~100x less
    JVM<->Python traffic on multi-KB images. The full-blob path stays for
    the decode-heavy mapInArrow kernels (tile_rollup_fused and its kin)."""
    from .imagecodec import HEADER_LEN

    return F.substring(bytes_col, 1, HEADER_LEN)


ASSIGN_STRUCT = T.StructType(
    [
        T.StructField("zone_id", T.IntegerType(), False),
        T.StructField("via_knn", T.BooleanType(), False),
    ]
)

LOOKUP_STRUCT = T.StructType(
    [
        T.StructField("lat", T.FloatType(), True),
        T.StructField("lng", T.FloatType(), True),
        T.StructField("gps_ok", T.BooleanType(), False),
        T.StructField("zone_id", T.IntegerType(), False),
        T.StructField("via_knn", T.BooleanType(), False),
    ]
)


def lookup_udf(idx_bcast):
    """The WHOLE reference `Search` (timezone.go:58-78) in ONE Arrow crossing:
    header bytes -> (lat, lng, validity, zone_id, via_knn) per batch.

    Fusing extract + validity + resolve + kNN into a single pandas UDF keeps
    the pipeline at exactly one JVM<->Python boundary (round-1 plans showed
    the separate extract UDF evaluated twice: once inlined into the validity
    Filter, once in the projection — 2 extra Arrow crossings per row).

    Marked nondeterministic ON PURPOSE: it prevents Catalyst from pushing the
    gps_ok filter through the projection and re-instantiating the UDF
    expression in the Filter node (the classic evaluate-expensive-UDF-once
    trick; the function itself is pure)."""

    @F.pandas_udf(LOOKUP_STRUCT)
    def _lookup(hdr: pd.Series) -> pd.DataFrame:
        idx: CompiledIndex = idx_bcast.value
        lat, lng, ok = extract_gps_batch(hdr.tolist())
        ok &= in_domain(lat, lng)
        n = ok.shape[0]
        zid = np.full(n, -1, dtype=np.int32)
        via = np.zeros(n, dtype=bool)
        if ok.any():
            okw = np.flatnonzero(ok)
            zid[okw], via[okw] = assign_points(idx, lat[okw], lng[okw])
        return pd.DataFrame(
            {"lat": lat, "lng": lng, "gps_ok": ok, "zone_id": zid, "via_knn": via}
        )

    return _lookup.asNondeterministic()


def assign_udf(idx_bcast):
    """pandas_udf: (lat, lng) -> (zone_id, via_knn). One pass: interior-cell
    O(1) hit, boundary-cell exact float32 ray cast, kNN for the remainder —
    the whole reference `Search` (timezone.go:58-78) per Arrow batch
    (cells.assign_points). A null coordinate gets (-1, False)."""

    @F.pandas_udf(ASSIGN_STRUCT)
    def _assign(lat: pd.Series, lng: pd.Series) -> pd.DataFrame:
        idx: CompiledIndex = idx_bcast.value
        la = lat.to_numpy(dtype=np.float32, na_value=np.nan)
        lg = lng.to_numpy(dtype=np.float32, na_value=np.nan)
        zid, via = assign_points(idx, la, lg)
        return pd.DataFrame({"zone_id": zid, "via_knn": via})

    return _assign


def resolve_only_udf(idx_bcast):
    """pandas_udf: (lat, lng) -> zone_id, -1 when no containing zone (no kNN).
    Used by the oracle-checked exact-containment queries."""

    @F.pandas_udf(T.IntegerType())
    def _resolve(lat: pd.Series, lng: pd.Series) -> pd.Series:
        idx: CompiledIndex = idx_bcast.value
        la = lat.to_numpy(dtype=np.float32, na_value=np.nan)
        lg = lng.to_numpy(dtype=np.float32, na_value=np.nan)
        return pd.Series(resolve_points(idx, la, lg))

    return _resolve


# ---------------------------------------------------------------------------
# the pipeline
# ---------------------------------------------------------------------------


def broadcast_cover(spark: SparkSession, zones: list, base_res=4, max_res=DEFAULT_MAX_RES):
    """Driver-side compile + broadcast (reference BuildRtree analog)."""
    idx = compile_cover(zones, base_res=base_res, max_res=max_res)
    return spark.sparkContext.broadcast(idx), idx.stats


def assign_timezones(
    images: DataFrame,
    idx_bcast,
    zone_dim: DataFrame,
    max_res: int = DEFAULT_MAX_RES,
) -> DataFrame:
    """Full lookup pipeline over the input_hint image table.

    images(image_id, bytes, w, h, fmt, caption, phash) ->
    + lat, lng (float32, from EXIF-style header)
    + quarantined flag (bad blob OR out-of-domain coords — the engine's
      row-level form of ErrCoordinatesNotValid, timezone.go:62-64)
    + cell_id (pure column arithmetic, no UDF, no shuffle)
    + zone_id, via_knn (broadcast cover probe)
    + tzid (broadcast hash join on the small zone dimension)

    Exactly ONE Python stage: only the 17-byte header prefix crosses the
    Arrow boundary (JVM-side substring), and extract + validity + resolve +
    kNN run fused inside lookup_udf — the multi-KB payload column never
    enters Python on this path (measured ~6x crossing cost when it does).
    """
    looked = images.withColumn(
        "a", lookup_udf(idx_bcast)(gps_header_col(F.col("bytes")))
    )
    pts = looked.select(
        "*",
        F.col("a.lat").alias("lat"),
        F.col("a.lng").alias("lng"),
        (~F.col("a.gps_ok")).alias("quarantined"),
        F.col("a.zone_id").alias("zone_id"),
        F.col("a.via_knn").alias("via_knn"),
    ).drop("a")
    assigned = pts.where(~F.col("quarantined")).withColumn(
        "cell_id", cell_id_col(F.col("lat"), F.col("lng"), max_res)
    )
    return assigned.join(F.broadcast(zone_dim.select("zone_id", "tzid")), "zone_id", "left")


def quarantined_rows(images: DataFrame) -> DataFrame:
    """The rows assign_timezones drops — routed to a side output instead of
    erroring the job (reference errors per-call, timezone.go:62-64).

    The extract UDF is marked nondeterministic, as lookup_udf is: otherwise
    Catalyst re-instantiates it inside the Filter below the projection and
    every row crosses into Python twice (two ArrowEvalPython stages)."""
    extract = extract_gps_udf().asNondeterministic()
    gps = images.withColumn("g", extract(gps_header_col(F.col("bytes"))))
    return gps.where(
        ~F.col("g.gps_ok")
        | ~F.col("g.lat").between(-90.0, 90.0)
        | ~F.col("g.lng").between(-180.0, 180.0)
    ).select("image_id", F.col("g.lat").alias("lat"), F.col("g.lng").alias("lng"))


# ---------------------------------------------------------------------------
# raster <-> vector tiling (mapInArrow image kernels)
# ---------------------------------------------------------------------------

_TILE_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("n_images", T.LongType(), False),
        T.StructField("n_pixels", T.LongType(), False),
        T.StructField("luma_sum", T.DoubleType(), False),
        T.StructField("lat_sum", T.DoubleType(), False),
        T.StructField("lng_sum", T.DoubleType(), False),
    ]
)


def _tile_partial_arrays(cells, lat, lng, stats):
    """Per-cell partial sums from per-image stats (all vectorized)."""
    ok = stats["ok"]
    cells = cells[ok]
    if cells.shape[0] == 0:
        return None
    uc, inv = np.unique(cells, return_inverse=True)
    m = len(uc)
    return {
        "cell_id": uc.astype(np.int64),
        "n_images": np.bincount(inv, minlength=m).astype(np.int64),
        "n_pixels": np.bincount(
            inv, weights=stats["n_pixels"][ok].astype(np.float64), minlength=m
        ).astype(np.int64),
        "luma_sum": np.bincount(inv, weights=stats["luma_sum"][ok], minlength=m),
        "lat_sum": np.bincount(
            inv, weights=lat[ok].astype(np.float64), minlength=m
        ),
        "lng_sum": np.bincount(
            inv, weights=lng[ok].astype(np.float64), minlength=m
        ),
    }


def _arrow_binary_view(col):
    """Zero-copy (data uint8, offsets int64) view of an Arrow binary array —
    the Arrow-batch analog of the reference's mmap reinterpret
    (geo/polygon.go:119-144): no per-row bytes objects are materialized."""
    import pyarrow as pa

    offset_dtype = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    bufs = col.buffers()
    offs = (
        np.frombuffer(bufs[1], dtype=offset_dtype)[col.offset : col.offset + len(col) + 1]
        .astype(np.int64)
    )
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, np.uint8)
    )
    # rebase sliced arrays: never let kernels see the full underlying buffer
    if len(offs) and (offs[0] != 0 or offs[-1] != data.size):
        data = data[offs[0] : offs[-1]]
        offs = offs - offs[0]
    if col.null_count:
        import pyarrow.compute as pc

        valid = pc.is_valid(col).to_numpy(zero_copy_only=False)
    else:
        valid = None
    return data, offs, valid


def _image_batch_stats(batch) -> dict:
    """The first step of every image mapInArrow kernel: zero-copy binary
    view of the batch's bytes column (column 0) -> vectorized header parse
    + decode stats (imagecodec.batch_image_stats), with ``ok`` cleared for
    undecodable, out-of-domain and null rows."""
    from .imagecodec import batch_image_stats

    data, offsets, valid = _arrow_binary_view(batch.column(0))
    st = batch_image_stats(data, offsets)
    st["ok"] &= in_domain(st["lat"], st["lng"])
    if valid is not None:
        st["ok"] &= valid
    return st


def tile_rollup_fused(images: DataFrame, max_res: int = DEFAULT_MAX_RES) -> DataFrame:
    """Raster<->vector tiling: per-tile stats over decoded pixel data, with
    the whole per-row chain FUSED into one Python stage: header parse ->
    validity -> cell encode -> vectorized decode -> per-cell partial sums,
    in a single mapInArrow over the bytes column.

    Two-phase by design: images are decoded WHERE THEY ALREADY ARE (no
    shuffle of multi-KB payloads) into per-batch per-cell partial sums;
    only those tiny partials shuffle into the final per-cell aggregate.
    This also neutralizes tile skew — a hot urban cell with 30% of all
    images decodes across every input partition instead of serializing
    into one straggler group (the naive groupBy(cell).applyInPandas(decode)
    was measured 15x slower at 1M rows).

    Why mapInArrow (not mapInPandas): the payload column is consumed directly
    from the Arrow buffers — one zero-copy np.frombuffer per batch instead of
    materializing millions of Python bytes objects. Payload columns cross the
    JVM<->Python boundary exactly once, in the operator that consumes them
    (a multi-KB column merely riding through an ArrowEvalPython stage was
    measured ~6x the direct crossing cost)."""
    import pyarrow as pa

    from .cells import cell_id as cell_id_np

    def _fused(batches):
        for batch in batches:
            st = _image_batch_stats(batch)
            lat, lng = st["lat"], st["lng"]
            out = _tile_partial_arrays(cell_id_np(lat, lng, max_res), lat, lng, st)
            if out is not None:
                yield pa.RecordBatch.from_pydict(out)

    partials = images.select("bytes").mapInArrow(_fused, _TILE_PARTIAL_SCHEMA)
    return partials.groupBy("cell_id").agg(
        F.sum("n_images").alias("n_images"),
        F.sum("n_pixels").alias("n_pixels"),
        (F.sum("luma_sum") / F.sum("n_pixels")).alias("mean_luma"),
        (F.sum("lat_sum") / F.sum("n_images")).alias("mean_lat"),
        (F.sum("lng_sum") / F.sum("n_images")).alias("mean_lng"),
    )


_ONEPASS_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.IntegerType(), False),  # 0 = zone, 1 = tile
        T.StructField("key", T.LongType(), False),  # zone_id | cell_id
        T.StructField("n", T.LongType(), False),
        T.StructField("n_knn", T.LongType(), False),
        T.StructField("n_pixels", T.LongType(), False),
        T.StructField("luma_sum", T.DoubleType(), False),
        T.StructField("lat_sum", T.DoubleType(), False),
        T.StructField("lng_sum", T.DoubleType(), False),
    ]
)


def lookup_tile_onepass(
    images: DataFrame, idx_bcast, max_res: int = DEFAULT_MAX_RES
) -> DataFrame:
    """Per-zone rollup AND per-tile raster stats from ONE scan + ONE Arrow
    crossing: header parse -> validity -> resolve/kNN -> vectorized decode ->
    both partial aggregates, fused in a single mapInArrow.

    Why: a pipeline that needs both outputs otherwise reads the multi-KB
    payload column twice (two jobs = two parquet scans + two JVM->Python
    transfers of the same ~1.2 KB/row). At 100 TB that is 100 TB of extra
    IO; on the 32-thread box the shared scan/transfer path is exactly what
    stops scaling, so halving it moves the N->4N efficiency, not just the
    wall time. Output rows are tagged `grp` (0 = per-zone, 1 = per-tile);
    split with zone_rollup_view / tile_rollup_view after ONE materialization.
    """
    import pyarrow as pa

    from .cells import cell_id as cell_id_np

    def _fused(batches):
        idx: CompiledIndex = idx_bcast.value
        for batch in batches:
            st = _image_batch_stats(batch)
            lat, lng = st["lat"], st["lng"]
            okw = np.flatnonzero(st["ok"])
            if okw.shape[0] == 0:
                continue
            zid, via = assign_points(idx, lat[okw], lng[okw])
            uz, inv = np.unique(zid, return_inverse=True)
            m = len(uz)
            tiles = _tile_partial_arrays(cell_id_np(lat, lng, max_res), lat, lng, st)
            t_m = len(tiles["cell_id"])
            cols = {  # (per-zone rows, per-tile rows)
                "grp": (np.zeros(m, np.int32), np.ones(t_m, np.int32)),
                "key": (uz.astype(np.int64), tiles["cell_id"]),
                "n": (np.bincount(inv, minlength=m), tiles["n_images"]),
                "n_knn": (np.bincount(inv[via], minlength=m), np.zeros(t_m, np.int64)),
                "n_pixels": (np.zeros(m, np.int64), tiles["n_pixels"]),
                "luma_sum": (np.zeros(m), tiles["luma_sum"]),
                "lat_sum": (np.zeros(m), tiles["lat_sum"]),
                "lng_sum": (np.zeros(m), tiles["lng_sum"]),
            }
            yield pa.RecordBatch.from_pydict(
                {k: np.concatenate(v) for k, v in cols.items()}
            )

    partials = images.select("bytes").mapInArrow(_fused, _ONEPASS_SCHEMA)
    return partials.groupBy("grp", "key").agg(
        F.sum("n").alias("n"),
        F.sum("n_knn").alias("n_knn"),
        F.sum("n_pixels").alias("n_pixels"),
        F.sum("luma_sum").alias("luma_sum"),
        F.sum("lat_sum").alias("lat_sum"),
        F.sum("lng_sum").alias("lng_sum"),
    )


def zone_rollup_view(onepass: DataFrame, zone_dim: DataFrame) -> DataFrame:
    """grp=0 rows of lookup_tile_onepass -> (zone_id, tzid, n_images, n_via_knn)."""
    return (
        onepass.where(F.col("grp") == 0)
        .select(
            F.col("key").cast("int").alias("zone_id"),
            F.col("n").alias("n_images"),
            F.col("n_knn").alias("n_via_knn"),
        )
        .join(F.broadcast(zone_dim.select("zone_id", "tzid")), "zone_id", "left")
    )


def tile_rollup_view(onepass: DataFrame) -> DataFrame:
    """grp=1 rows of lookup_tile_onepass -> the tile_rollup_fused output schema."""
    t = onepass.where(F.col("grp") == 1)
    return t.select(
        F.col("key").alias("cell_id"),
        F.col("n").alias("n_images"),
        "n_pixels",
        (F.col("luma_sum") / F.col("n_pixels")).alias("mean_luma"),
        (F.col("lat_sum") / F.col("n")).alias("mean_lat"),
        (F.col("lng_sum") / F.col("n")).alias("mean_lng"),
    )


_ZONAL_SCHEMA = T.StructType(
    [
        T.StructField("zone_id", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("n_knn", T.LongType(), False),
        T.StructField("n_pixels", T.LongType(), False),
        T.StructField("sum_r", T.LongType(), False),
        T.StructField("sum_g", T.LongType(), False),
        T.StructField("sum_b", T.LongType(), False),
    ]
)


def zonal_channel_rollup(
    images: DataFrame, idx_bcast, zone_dim: DataFrame
) -> DataFrame:
    """Raster ZONAL statistics: per-polygon aggregates of the decoded pixel
    content, fused into one scan + one Arrow crossing — the vector-zone
    analog of tile_rollup_fused (which keys by raster tile).

    Each batch resolves its images to zones (cells.assign_points, the
    compiled-cover probe + kNN fallback lookup_udf runs) AND folds their
    decoded pixels into EXACT int64 channel sums (batch_image_stats — no
    decode loop), so the shuffle carries only ~|zones| partial rows per
    batch and every aggregate is integer-exact: summation order can never
    perturb the result, which is what lets a DuckDB oracle hash-match the
    full rollup. Means come out as one int/int division per zone row at the
    end."""
    import pyarrow as pa

    def _fused(batches):
        idx: CompiledIndex = idx_bcast.value
        for batch in batches:
            st = _image_batch_stats(batch)
            okw = np.flatnonzero(st["ok"])
            if okw.size == 0:
                continue
            zid, via = assign_points(idx, st["lat"][okw], st["lng"][okw])
            uz, inv = np.unique(zid, return_inverse=True)
            m = len(uz)
            ch = st["ch_sum"][okw].astype(np.float64)  # < 2^53, exact
            npx = st["n_pixels"][okw].astype(np.float64)
            out = {
                "zone_id": uz.astype(np.int64),
                "n": np.bincount(inv, minlength=m).astype(np.int64),
                "n_knn": np.bincount(inv[via], minlength=m),
                "n_pixels": np.bincount(inv, weights=npx, minlength=m).astype(
                    np.int64
                ),
                "sum_r": np.bincount(inv, weights=ch[:, 0], minlength=m).astype(
                    np.int64
                ),
                "sum_g": np.bincount(inv, weights=ch[:, 1], minlength=m).astype(
                    np.int64
                ),
                "sum_b": np.bincount(inv, weights=ch[:, 2], minlength=m).astype(
                    np.int64
                ),
            }
            yield pa.RecordBatch.from_pydict(out)

    partials = images.select("bytes").mapInArrow(_fused, _ZONAL_SCHEMA)
    agg = partials.groupBy("zone_id").agg(
        F.sum("n").alias("n_images"),
        F.sum("n_knn").alias("n_via_knn"),
        F.sum("n_pixels").alias("n_pixels"),
        F.sum("sum_r").alias("sum_r"),
        F.sum("sum_g").alias("sum_g"),
        F.sum("sum_b").alias("sum_b"),
    )
    return (
        agg.select(F.col("zone_id").cast("int").alias("zone_id"), *agg.columns[1:])
        .join(F.broadcast(zone_dim.select("zone_id", "tzid")), "zone_id", "left")
        .select(
            "zone_id",
            "tzid",
            "n_images",
            "n_via_knn",
            "n_pixels",
            "sum_r",
            "sum_g",
            "sum_b",
            (F.col("sum_r").cast("double") / F.col("n_pixels")).alias("mean_r"),
            (F.col("sum_g").cast("double") / F.col("n_pixels")).alias("mean_g"),
            (F.col("sum_b").cast("double") / F.col("n_pixels")).alias("mean_b"),
        )
    )


def salted_tile_counts(assigned: DataFrame, n_salt: int = 8) -> DataFrame:
    """Two-phase salted aggregation for skewed cells: partial count per
    (cell_id, salt) then final per cell_id. Equivalent to a plain groupBy
    (Catalyst's partial aggregation does this for counts already; the salt
    matters for applyInPandas-style holistic aggs and is kept explicit here
    as the documented skew pattern, SURVEY.md §2.4)."""
    salted = assigned.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("image_id")), F.lit(n_salt))
    )
    partial = salted.groupBy("cell_id", "salt").agg(
        F.count("*").alias("pc"),
        F.sum(F.col("via_knn").cast("long")).alias("pk"),
    )
    return partial.groupBy("cell_id").agg(
        F.sum("pc").alias("n_images"), F.sum("pk").alias("n_via_knn")
    )
