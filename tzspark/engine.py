"""The distributed pipeline: DataFrame plan + vectorized Arrow kernels.

Spark-first re-expression of the reference's query lifecycle
(/root/reference/timezone.go:58-78 `Search`): the R-tree probe becomes a
compiled cell cover, shipped as one mapped index file and probed inside
Arrow UDFs, the per-point loop becomes one declarative DataFrame plan that
Catalyst optimizes (validity filter pushed to the scan, tzid attach as a
broadcast hash join, tile rollup as a salted two-phase aggregation).

One Arrow kernel per operation: GPS extract (gps_kernel), the fused image
lookup (lookup_kernel) and the coordinate assignment (assign_kernel) are
plain functions of pyarrow arrays, wrapped as `F.arrow_udf`s
(extract_gps_udf, lookup_udf, assign_udf); the image kernels read the
batch's binary column through the zero-copy view `_arrow_binary_view` and
parse headers with imagecodec.parse_headers, so no batch is converted to
pandas or to per-row bytes objects. Containment-only callers mask
assign_udf's kNN answers (with_contained_zone).

Scale notes (the 100 TB design, tested at local[*]):
* the ONLY shuffle in the lookup path is none at all — GPS extract, cell
  encode, cover probe and kNN fallback are all per-row/narrow; tzid attach is
  a broadcast join; so the join scales linearly with executors,
* the compiled cover reaches the workers one way: an index file
  (covertable.CoverTables, cells.save_index) shipped once per application
  and mapped once per Python worker, like the reference's mmap db — every
  kernel takes that handle (``cover``) and reads ``cover.value``,
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
tzspark (which every worker does when it unpickles a kernel and its
covertable.CoverTables handle) installs a stat guard (`_zipimport.py`) so an
unchanged archive is not re-read; a rewritten or removed one still is. It is
not a custom `spark.python.daemon.module`, because executors that receive
tzspark as `--py-files` could not import the daemon. The layer it moves is
`engine.overhead_s` / `spark.executor_run_ms` in the benchmark's traced run.

The other half of that cost is the transport. Over Spark's default loopback
TCP socket the worker waits ~25 ms per task for the JVM's first Arrow
message (likely Nagle on the JVM's small writes against the worker's
delayed ACK; TCP_NODELAY on the worker's end alone does not help): a
10-row arrow_udf task takes 55-64 ms of executor run time, a JVM-only task
11 ms. On a local master get_spark therefore sets Spark's Unix domain
socket transport for the worker daemon and its workers, collect/toPandas
and the accumulator server; a Unix socket has neither mechanism (18-28 ms
per such task). The sockets live in socket_dir(), a short private
directory under /tmp, because a socket path is limited to 107 bytes and
Spark's default, java.io.tmpdir, can be deep inside a checkout. A cluster
master keeps TCP: a directory made on the driver does not exist on the
executors' hosts.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .cells import (
    DEFAULT_MAX_RES,
    CompiledIndex,
    assign_points,
    cell_id_col,
    in_domain,
)
from .imagecodec import parse_headers


def default_driver_memory() -> str:
    """Half of this host's physical memory, capped at 32g: a fixed 32g heap
    on a 16 GB host let the JVM grow until the kernel killed it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2, 32 << 30) >> 20}m"


_SOCKET_DIR = None  # (path, pid of the process that made it)


def _remove_socket_dir(path: str, pid: int):
    if os.getpid() == pid:  # not from a forked child that exits normally
        shutil.rmtree(path, ignore_errors=True)


def socket_dir() -> str:
    """This process's directory for Spark's Unix domain sockets: made once
    with mkdtemp under /tmp (mode 0700, 25 characters), reused by every
    later session, removed when the process exits. Not under TMPDIR or
    java.io.tmpdir: a socket path is limited to 107 bytes, and a long
    checkout or work directory (perfbench's tmpdir is under the checkout)
    plus Spark's 43-character socket name passes that limit."""
    global _SOCKET_DIR
    if _SOCKET_DIR is None or not os.path.isdir(_SOCKET_DIR[0]):
        _SOCKET_DIR = (tempfile.mkdtemp(prefix="tzspark-uds-", dir="/tmp"), os.getpid())
        atexit.register(_remove_socket_dir, *_SOCKET_DIR)
    return _SOCKET_DIR[0]


def session_conf(
    master: str = None, shuffle_partitions: int = 32, extra_conf: dict = None
) -> tuple[str | None, dict]:
    """get_spark's (master, conf): the master to set on the builder (None
    when SPARK_MASTER is set, so the launcher's master stands) and every
    conf it sets. A local master (local[N], local-cluster) also gets Spark's
    Unix domain socket transport in socket_dir(); a cluster master gets
    neither conf, as a directory made on the driver does not exist on the
    executors' hosts. ``extra_conf`` overrides any of them."""
    if not master and not os.environ.get("SPARK_MASTER"):
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
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
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_driver_memory(),
    }
    if master and master.startswith("local"):
        conf["spark.python.unix.domain.socket.enabled"] = "true"
        conf["spark.python.unix.domain.socket.dir"] = socket_dir()
    conf.update(extra_conf or {})
    return master, conf


def get_spark(
    app: str = "tzspark",
    master: str = None,
    shuffle_partitions: int = 32,
    extra_conf: dict = None,
) -> SparkSession:
    """Session tuned for the engine (session_conf): AQE + Arrow on, skew
    join handling, and on a local master every JVM<->Python exchange (the
    Python worker daemon and its workers, collect/toPandas, the accumulator
    server) over Unix domain sockets instead of loopback TCP, which saves
    a fixed ~35 ms per Python task (see the module docstring)."""
    # executors' python workers must import tzspark no matter the caller's
    # cwd — the cluster equivalent is spark-submit --py-files tzspark.zip
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_parent + (os.pathsep + pp if pp else "")

    master, conf = session_conf(master, shuffle_partitions, extra_conf)
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
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
    zs = sorted(zones, key=lambda z: z.zone_id)
    ids = np.fromiter((int(z.zone_id) for z in zs), np.int32, len(zs))
    tz = pa.array([z.tzid for z in zs], pa.string())
    bbox = np.array([z.bbox for z in zs], np.float32).reshape(len(zs), 4)
    return zs, ids, tz, bbox


def zone_dim_df(spark: SparkSession, zones: list) -> DataFrame:
    """Small zone dimension (id, tzid, MBR) — always broadcast-joined.
    Arrow-built (round 6): the old row-tuple createDataFrame pickled every
    row through the driver (~1 s per 24k-zone call, paid per probe)."""
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
    return spark.createDataFrame(t, schema=ZONE_DIM_SCHEMA)


def zone_table_df(spark: SparkSession, zones: list) -> DataFrame:
    """Full zone table incl. vertex rings — the engine analog of the
    reference's binary store rows (timezone.go:29-45 AddTimezone flatten).
    Arrow-built: rings go in as ONE concatenated float32 buffer + offsets
    (pa.ListArray) instead of per-vertex Python floats — the overlay bench
    layer (51,200 zones) went from seconds of driver pickling per call to
    a single columnar handoff."""
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
    return spark.createDataFrame(t, schema=ZONE_TABLE_SCHEMA)


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

ASSIGN_STRUCT = T.StructType(
    [
        T.StructField("zone_id", T.IntegerType(), False),
        T.StructField("via_knn", T.BooleanType(), False),
    ]
)

LOOKUP_STRUCT = T.StructType(GPS_STRUCT.fields + ASSIGN_STRUCT.fields)


def _arrow_binary_view(col):
    """Zero-copy (data uint8, offsets int64) view of an Arrow binary array —
    the Arrow-batch analog of the reference's mmap reinterpret
    (geo/polygon.go:119-144): no per-row bytes objects are materialized."""
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


def _struct_array(schema: T.StructType, *cols) -> pa.StructArray:
    """numpy columns -> the Arrow struct an arrow_udf of ``schema`` returns
    (field nullability must match the declared type)."""
    return pa.StructArray.from_arrays(
        [pa.array(c) for c in cols], fields=list(to_arrow_type(schema))
    )


def as_f32(col: pa.Array) -> np.ndarray:
    """A numeric Arrow coordinate column as float32 numpy, null -> NaN."""
    return np.asarray(col.to_numpy(zero_copy_only=False), dtype=np.float32)


def _headers(hdr: pa.Array) -> tuple:
    """Image bytes (or their header prefix) -> (lat f32, lng f32, ok): the
    zero-copy binary view parsed by imagecodec.parse_headers; null,
    short and bad-magic blobs are not ok."""
    data, offsets, valid = _arrow_binary_view(hdr)
    h, ok = parse_headers(data, offsets)
    if valid is not None:  # a null reads as an empty blob, whatever it spans
        h[~valid] = np.zeros((), h.dtype)
        ok &= valid
    return h["lat"], h["lng"], ok


def gps_kernel(hdr: pa.Array) -> pa.StructArray:
    """extract_gps_udf's batch function: GPS_STRUCT per blob."""
    return _struct_array(GPS_STRUCT, *_headers(hdr))


def lookup_kernel(idx: CompiledIndex, hdr: pa.Array) -> pa.StructArray:
    """lookup_udf's batch function: LOOKUP_STRUCT per blob. gps_ok also
    requires in-domain coordinates; only gps_ok rows are assigned
    (cells.assign_points), the rest get (-1, False)."""
    lat, lng, ok = _headers(hdr)
    ok &= in_domain(lat, lng)
    zid = np.full(ok.shape[0], -1, dtype=np.int32)
    via = np.zeros(ok.shape[0], dtype=bool)
    okw = np.flatnonzero(ok)
    if okw.size:
        zid[okw], via[okw] = assign_points(idx, lat[okw], lng[okw])
    return _struct_array(LOOKUP_STRUCT, lat, lng, ok, zid, via)


def assign_kernel(idx: CompiledIndex, lat: pa.Array, lng: pa.Array) -> pa.StructArray:
    """assign_udf's batch function: ASSIGN_STRUCT per coordinate pair."""
    return _struct_array(ASSIGN_STRUCT, *assign_points(idx, as_f32(lat), as_f32(lng)))


def extract_gps_udf():
    """arrow_udf: image bytes -> (lat, lng, gps_ok), parsed over the batch's
    zero-copy binary view (gps_kernel) — no per-row bytes objects."""

    @F.arrow_udf(GPS_STRUCT)
    def _extract(hdr: pa.Array) -> pa.Array:
        return gps_kernel(hdr)

    return _extract


def gps_header_col(bytes_col):
    """JVM-side header slice: only the 17-byte EXIF-style prefix crosses the
    Arrow boundary into Python, not the full image payload — ~100x less
    JVM<->Python traffic on multi-KB images. The full-blob path stays for
    the decode-heavy mapInArrow kernels (tile_rollup_fused and its kin)."""
    from .imagecodec import HEADER_LEN

    return F.substring(bytes_col, 1, HEADER_LEN)


def lookup_udf(cover):
    """The WHOLE reference `Search` (timezone.go:58-78) in ONE Arrow crossing:
    header bytes -> (lat, lng, validity, zone_id, via_knn) per batch
    (lookup_kernel).

    Fusing extract + validity + resolve + kNN into a single arrow_udf keeps
    the pipeline at exactly one JVM<->Python boundary (round-1 plans showed
    the separate extract UDF evaluated twice: once inlined into the validity
    Filter, once in the projection — 2 extra Arrow crossings per row).

    Marked nondeterministic ON PURPOSE: it prevents Catalyst from pushing the
    gps_ok filter through the projection and re-instantiating the UDF
    expression in the Filter node (the classic evaluate-expensive-UDF-once
    trick; the function itself is pure)."""

    @F.arrow_udf(LOOKUP_STRUCT)
    def _lookup(hdr: pa.Array) -> pa.Array:
        return lookup_kernel(cover.value, hdr)

    return _lookup.asNondeterministic()


def assign_udf(cover):
    """arrow_udf: (lat, lng) -> (zone_id, via_knn). One pass: interior-cell
    O(1) hit, boundary-cell exact float32 ray cast, kNN for the remainder —
    the whole reference `Search` (timezone.go:58-78) per Arrow batch
    (cells.assign_points). A null coordinate gets (-1, False).

    For containment only (cells.resolve_points semantics) use
    with_contained_zone: the kNN answers become -1."""

    @F.arrow_udf(ASSIGN_STRUCT)
    def _assign(lat: pa.Array, lng: pa.Array) -> pa.Array:
        return assign_kernel(cover.value, lat, lng)

    return _assign


def with_contained_zone(points: DataFrame, probe, lat_col: str = "lat",
                        lng_col: str = "lng") -> DataFrame:
    """``points`` + zone_id: the zone containing its (lat_col, lng_col) by
    the assign_udf ``probe``, -1 where none (cells.resolve_points semantics:
    the kNN answers are masked). The probe's struct is projected first and
    zone_id read from it in the next projection, so each row crosses into
    Python once."""
    a = points.withColumn("_a", probe(F.col(lat_col), F.col(lng_col)))
    return a.withColumn(
        "zone_id", F.when(F.col("_a.via_knn"), F.lit(-1)).otherwise(F.col("_a.zone_id"))
    ).drop("_a")


# ---------------------------------------------------------------------------
# the pipeline
# ---------------------------------------------------------------------------


class LookupPlan:
    """The image lookup as Columns, built once per (index, zone dim,
    max_res) and applied to any number of image DataFrames. ``cover`` is
    the shipped index file (covertable.CoverTables; its ``value`` is the
    index, mapped where the rows are); ``probe`` replaces the lookup_udf
    Column (a LOOKUP_STRUCT); without ``zone_dim`` no tzid is attached.

    Every ``F.*`` call is a py4j round trip (PySpark 4 also captures its
    call site): building these Columns takes ~500 round trips, more driver
    time than a 40k-image op spends in its kernels. apply() builds no
    Column: four DataFrame calls over the held ones. Spark turns each
    Column into a fresh expression (new expression ids) per DataFrame
    call, so one plan's outputs can meet in one query (a union, a
    self-join)."""

    def __init__(self, cover, zone_dim: DataFrame, max_res: int = DEFAULT_MAX_RES,
                 probe=None):
        self.cover = cover
        self._all = F.col("*")
        if probe is None:
            probe = lookup_udf(cover)(gps_header_col(F.col("bytes")))
        self._probe = probe.alias("a")
        self._ok = F.col("a.gps_ok")
        lat, lng = F.col("a.lat"), F.col("a.lng")
        self._outputs = [
            lat.alias("lat"),
            lng.alias("lng"),
            (~self._ok).alias("quarantined"),
            F.col("a.zone_id").alias("zone_id"),
            F.col("a.via_knn").alias("via_knn"),
            cell_id_col(lat, lng, max_res).alias("cell_id"),
        ]
        self._dim = None if zone_dim is None else F.broadcast(zone_dim.select("zone_id", "tzid"))

    def apply(self, images: DataFrame) -> DataFrame:
        """assign_timezones' output over ``images``: probe, keep the gps_ok
        rows, project, attach tzid."""
        out = (
            images.select(self._all, self._probe)
            .where(self._ok)
            .select(*images.columns, *self._outputs)
        )
        return out if self._dim is None else out.join(self._dim, "zone_id", "left")


def assign_timezones(
    images: DataFrame,
    cover,
    zone_dim: DataFrame,
    max_res: int = DEFAULT_MAX_RES,
) -> DataFrame:
    """Full lookup pipeline over the input_hint image table.

    images(image_id, bytes, w, h, fmt, caption, phash) ->
    + lat, lng (float32, from EXIF-style header)
    + quarantined flag (bad blob OR out-of-domain coords — the engine's
      row-level form of ErrCoordinatesNotValid, timezone.go:62-64)
    + cell_id (pure column arithmetic, no UDF, no shuffle)
    + zone_id, via_knn (the probe of ``cover``, a covertable.CoverTables:
      the index file each Python worker maps once)
    + tzid (broadcast hash join on the small zone dimension)
    in the column order zone_id, the image columns, lat, lng, quarantined,
    via_knn, cell_id, tzid. Quarantined rows are dropped.

    Exactly ONE Python stage: only the 17-byte header prefix crosses the
    Arrow boundary (JVM-side substring), and extract + validity + resolve +
    kNN run fused inside lookup_udf — the multi-KB payload column never
    enters Python on this path (measured ~6x crossing cost when it does).
    A caller that looks up many DataFrames against one index keeps a
    LookupPlan instead (TimezoneLookup.assign does). It runs unchanged on a
    stream (read_image_stream): the lookup is stateless per row.
    """
    return LookupPlan(cover, zone_dim, max_res).apply(images)


def quarantined_rows(images: DataFrame) -> DataFrame:
    """The rows assign_timezones drops — routed to a side output instead of
    erroring the job (reference errors per-call, timezone.go:62-64).

    The extract arrow_udf is marked nondeterministic, as lookup_udf is:
    otherwise Catalyst re-instantiates it inside the Filter below the
    projection and every row crosses into Python twice (two ArrowEvalPython
    stages)."""
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
    images: DataFrame, cover, max_res: int = DEFAULT_MAX_RES
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
    from .cells import cell_id as cell_id_np

    def _fused(batches):
        idx: CompiledIndex = cover.value
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
    images: DataFrame, cover, zone_dim: DataFrame
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

    def _fused(batches):
        idx: CompiledIndex = cover.value
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
