"""End-to-end Spark pipeline vs the committed golden oracle."""

import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from tzspark.cells import DEFAULT_MAX_RES, cell_id, cell_id_col, compile_cover
from tzspark.covertable import CoverTables
from tzspark.datasets import images_df, synth_coords
from tzspark.engine import (
    assign_timezones,
    quarantined_rows,
    salted_tile_counts,
    tile_rollup_fused,
    zone_dim_df,
)
from tzspark.geom import F32
from tzspark.zones import make_zones, oracle_assign

N = 600


@pytest.fixture(scope="module")
def zones():
    return make_zones(n_coast=4000)


@pytest.fixture(scope="module")
def assigned(spark, zones):
    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)
    imgs = images_df(spark, N, partitions=4)
    df = assign_timezones(imgs, cov, dim)
    df.cache()
    return df


def test_pipeline_matches_oracle(assigned, zones):
    pdf = assigned.select("image_id", "lat", "lng", "zone_id", "via_knn").toPandas()
    assert len(pdf) == N  # no quarantine for synthetic coords
    idx = pdf["image_id"].str[3:].astype(np.int64).to_numpy()
    lat, lng = synth_coords(idx)
    np.testing.assert_array_equal(pdf["lat"].to_numpy(np.float32), lat)
    np.testing.assert_array_equal(pdf["lng"].to_numpy(np.float32), lng)
    want = oracle_assign(zones, lat, lng)
    np.testing.assert_array_equal(pdf["zone_id"].to_numpy(np.int32), want)
    assert pdf["via_knn"].sum() > 0  # offshore slice exercised


ASSIGNED_DTYPES = [
    ("zone_id", "int"), ("image_id", "string"), ("bytes", "binary"), ("w", "int"),
    ("h", "int"), ("fmt", "string"), ("caption", "string"), ("phash", "bigint"),
    ("lat", "float"), ("lng", "float"), ("quarantined", "boolean"),
    ("via_knn", "boolean"), ("cell_id", "bigint"), ("tzid", "string"),
]


def test_assigned_schema(spark, assigned, zones):
    """The lookup output's column order and types, from assign_timezones
    and from the TimezoneLookup facade (first call and memoized plan)."""
    from tzspark.api import TimezoneLookup

    assert assigned.dtypes == ASSIGNED_DTYPES
    tl = TimezoneLookup(zones)
    imgs = images_df(spark, 10, partitions=1)
    assert tl.assign(spark, imgs).dtypes == ASSIGNED_DTYPES
    assert tl.assign(spark, imgs).dtypes == ASSIGNED_DTYPES


def test_tzid_attached_broadcast(assigned, zones):
    by_id = {z.zone_id: z.tzid for z in zones}
    pdf = assigned.select("zone_id", "tzid").distinct().toPandas()
    for _, r in pdf.iterrows():
        assert by_id[int(r["zone_id"])] == r["tzid"]
    # plan uses a broadcast hash join for the dim attach
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_cell_id_column_matches_numpy(assigned):
    pdf = assigned.select("lat", "lng", "cell_id").toPandas()
    want = cell_id(
        pdf["lat"].to_numpy(np.float32), pdf["lng"].to_numpy(np.float32), DEFAULT_MAX_RES
    )
    np.testing.assert_array_equal(pdf["cell_id"].to_numpy(np.int64), want)

    # planted inputs the uniform fixture almost never draws: exact cell
    # edges, the domain bounds, values just outside them, and doubles that
    # the float32 truncation moves onto an edge
    lat_v, lng_v = [], []
    for res in (1, 4, DEFAULT_MAX_RES):
        k = np.arange((1 << res) + 1)
        lat_v += list(-90.0 + 180.0 * k / (1 << res))
        lng_v += list(-180.0 + 360.0 * k / (1 << res))
    lat_v += [90.0, -90.0, np.nextafter(90.0, 91), np.nextafter(-90.0, -91),
              90.0000001, -90.0000001, 90.5, -90.5, 91.0, -91.0, 22.5 - 1e-9]
    lng_v += [180.0, -180.0, np.nextafter(180.0, 181), np.nextafter(-180.0, -181),
              180.00001, -180.00001, 180.5, -180.5, 181.0, -181.0, 45.0 + 1e-9]
    n = len(lat_v) + len(lng_v)
    # NaN latitude, NaN longitude and both: Spark's floor(NaN) cast to
    # bigint is 0, which cell_id must reproduce (then clamped like any row)
    lat = np.array([lat_v[i % len(lat_v)] for i in range(n)] + [np.nan, 10.0, np.nan])
    lng = np.array([lng_v[(7 * i) % len(lng_v)] for i in range(n)] + [10.0, np.nan, np.nan])
    df = assigned.sparkSession.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lng)], "lat double, lng double"
    )
    for res in (0, 1, 4, DEFAULT_MAX_RES, 15):
        got = df.select(cell_id_col(F.col("lat"), F.col("lng"), res).alias("c"))
        np.testing.assert_array_equal(
            got.toPandas()["c"].to_numpy(np.int64),
            cell_id(lat.astype(np.float32), lng.astype(np.float32), res),
            err_msg=f"res {res}",
        )


def test_cell_id_forms_agree_on_non_finite(spark):
    """cell_id (numpy), cell_id_col (Spark) and cell_id_sql (DuckDB) give
    the same cell for NaN and +-inf coordinates (row/col 0, n-1, 0), on
    exact cell edges and on the +-90 / +-180 domain bounds."""
    import duckdb
    import pandas as pd

    from tzspark.cells import cell_id_sql

    special = [np.nan, np.inf, -np.inf, 90.0, -90.0, 180.0, -180.0, 0.0]
    lat_v, lng_v = [], []
    for a in special:  # every pair of specials
        lat_v += special
        lng_v += [a] * len(special)
    for res in (0, 1, 4, 10):  # exact edges, with a special on the other axis
        k = np.arange((1 << res) + 1)
        lat_v += list(-90.0 + 180.0 * k / (1 << res))
        lng_v += [special[i % len(special)] for i in k]
        lng_v += list(-180.0 + 360.0 * k / (1 << res))
        lat_v += [special[i % len(special)] for i in k]
    pdf = pd.DataFrame({"lat": lat_v, "lng": lng_v})
    sdf = spark.createDataFrame([(float(a), float(b)) for a, b in zip(lat_v, lng_v)],
                                "lat double, lng double")
    con = duckdb.connect()
    for res in (0, 1, 4, 10):
        want = cell_id(pdf["lat"].to_numpy(F32), pdf["lng"].to_numpy(F32), res)
        got_spark = sdf.select(cell_id_col(F.col("lat"), F.col("lng"), res).alias("c"))
        got_sql = con.sql(f"SELECT {cell_id_sql('lat', 'lng', res)} AS c FROM pdf")
        np.testing.assert_array_equal(
            got_spark.toPandas()["c"].to_numpy(np.int64), want, err_msg=f"spark res {res}")
        np.testing.assert_array_equal(
            got_sql.df()["c"].to_numpy(np.int64), want, err_msg=f"duckdb res {res}")


def test_cell_id_forms_agree_near_cell_edges(spark):
    """cell_id, cell_id_col and cell_id_sql give the same cell for float32
    points within 3 ulps of cell edges at res 4/10/15, and for points with
    |lng| < 1e-4, where a sum rounded to FLOAT crosses the lng-0 edge."""
    import duckdb
    import pandas as pd

    from tzspark.cells import cell_id_sql

    rng = np.random.default_rng(17)
    edges = []  # (axis, float64 edge value)
    for res in (4, 10, 15):
        n = 1 << res
        for axis, lo, span in ((0, -90.0, 180.0), (1, -180.0, 360.0)):
            k = np.unique(np.concatenate([[0, n // 2, n], rng.integers(0, n + 1, 60)]))
            edges += [(axis, lo + span * i / n) for i in k]
    lat_v, lng_v = [], []
    for axis, e in edges:
        v = F32(e)
        for step in range(-3, 4):
            near = v
            for _ in range(abs(step)):
                near = np.nextafter(near, F32(np.sign(step) * np.inf), dtype=F32)
            other = F32(rng.uniform((-90, -180)[1 - axis], (90, 180)[1 - axis]))
            lat_v.append(near if axis == 0 else other)
            lng_v.append(other if axis == 0 else near)
    lat_v += list(rng.uniform(-60, 60, 2000).astype(F32))
    lng_v += list(rng.uniform(-1e-4, 1e-4, 2000).astype(F32))
    lat, lng = np.array(lat_v, F32), np.array(lng_v, F32)
    pdf = pd.DataFrame({"lat": lat, "lng": lng})
    sdf = spark.createDataFrame(pdf.astype(np.float64))
    con = duckdb.connect()
    for res in (4, 10, 15):
        want = cell_id(lat, lng, res)
        got_spark = sdf.select(cell_id_col(F.col("lat"), F.col("lng"), res).alias("c"))
        got_sql = con.sql(f"SELECT {cell_id_sql('lat', 'lng', res)} AS c FROM pdf")
        np.testing.assert_array_equal(
            got_spark.toPandas()["c"].to_numpy(np.int64), want, err_msg=f"spark res {res}")
        np.testing.assert_array_equal(
            got_sql.df()["c"].to_numpy(np.int64), want, err_msg=f"duckdb res {res}")


def test_lookup_kernels_without_spark(zones):
    """The Arrow kernels behind extract_gps_udf, lookup_udf and assign_udf,
    called as plain functions of pyarrow arrays, agree with
    batch_image_stats + assign_points on one batch holding a null blob
    (whose slot still has bytes), a blob shorter than the header, bad
    magic, NaN/+-inf/out-of-domain header coordinates, on a sliced array
    (non-zero offset, rebased by _arrow_binary_view), and on empty
    batches."""
    import pyarrow as pa

    from tzspark.cells import assign_points, compile_cover, in_domain
    from tzspark.engine import assign_kernel, gps_kernel, lookup_kernel
    from tzspark.imagecodec import HEADER_LEN, batch_image_stats, encode_image, pack_blobs

    idx = compile_cover(zones)
    coords = [(10.0, 20.0), (-33.0, 151.0), (0.5, -170.0), (np.nan, 5.0),
              (np.inf, 5.0), (5.0, -np.inf), (95.0, 5.0), (5.0, 200.0)]
    blobs = [encode_image(i, la, lg, 4, 3, ("raw", "rle", "qnt")[i % 3])[0]
             for i, (la, lg) in enumerate(coords)]
    good = blobs[0]
    blobs += [None, good[:HEADER_LEN - 1], b"XXXX" + good[4:]]
    n = len(blobs)
    base = pa.array([b"pad", *[good if b is None else b for b in blobs], b"pad"])
    valid = np.array([True, *[b is not None for b in blobs], True])
    bitmap = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
    arr = pa.Array.from_buffers(pa.binary(), n, [bitmap, *base.buffers()[1:]], offset=1)
    assert arr.offset == 1 and arr.null_count == 1

    st = batch_image_stats(*pack_blobs(blobs))
    lat, lng, ok = st["lat"], st["lng"], st["ok"]
    assert ok.tolist() == [True] * len(coords) + [False] * 3
    g = gps_kernel(arr).flatten()
    np.testing.assert_array_equal(g[0].to_numpy(), lat)
    np.testing.assert_array_equal(g[1].to_numpy(), lng)
    np.testing.assert_array_equal(g[2].to_numpy(zero_copy_only=False), ok)
    np.testing.assert_array_equal(lat[:3], np.array([c[0] for c in coords[:3]], F32))

    want_ok = ok & in_domain(lat, lng)
    assert want_ok.tolist() == [True] * 3 + [False] * (n - 3)
    want_zid = np.full(n, -1, np.int32)
    want_via = np.zeros(n, bool)
    want_zid[:3], want_via[:3] = assign_points(idx, lat[:3], lng[:3])
    lk = [c.to_numpy(zero_copy_only=False) for c in lookup_kernel(idx, arr).flatten()]
    for got, want in zip(lk, (lat, lng, want_ok, want_zid, want_via)):
        np.testing.assert_array_equal(got, want)

    # assign_kernel over the header coordinates, nulls where the blob is bad
    la = pa.array(lat.astype(float), mask=~ok)
    lg = pa.array(lng.astype(float), mask=~ok)
    zid, via = assign_points(idx, np.where(ok, lat, np.nan), np.where(ok, lng, np.nan))
    a = assign_kernel(idx, la, lg).flatten()
    np.testing.assert_array_equal(a[0].to_numpy(), zid)
    np.testing.assert_array_equal(a[1].to_numpy(zero_copy_only=False), via)
    assert zid[3:].tolist() == [-1, -1, -1, *zid[6:8].tolist(), -1, -1, -1]
    assert via[6:8].all()  # out of domain, finite: the brute-force kNN answer

    empty = pa.array([], pa.binary())
    assert len(gps_kernel(empty)) == len(lookup_kernel(idx, empty)) == 0
    assert len(assign_kernel(idx, pa.array([], pa.float64()), pa.array([], pa.float64()))) == 0


def test_quarantine_path(spark, zones):
    from pyspark.sql import types as T

    from tzspark.imagecodec import encode_image

    good, _, _ = encode_image(1, 10.0, 10.0, 8, 8, "raw")
    bad_magic = b"XXXX" + good[4:]
    bad_coord, _, _ = encode_image(2, 95.0, 10.0, 8, 8, "raw")
    short = b"TZ"
    rows = [
        ("a", bytearray(good), 8, 8, "raw", "c", 0),
        ("b", bytearray(bad_magic), 8, 8, "raw", "c", 0),
        ("c", bytearray(bad_coord), 8, 8, "raw", "c", 0),
        ("d", bytearray(short), 8, 8, "raw", "c", 0),
    ]
    from tzspark.datasets import IMAGES_SCHEMA

    df = spark.createDataFrame(rows, IMAGES_SCHEMA)
    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)
    ok = assign_timezones(df, cov, dim)
    q = quarantined_rows(df)
    # the extract UDF runs once per row: the Filter must not re-instantiate it
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert sorted(r["image_id"] for r in ok.select("image_id").collect()) == ["a"]
    assert sorted(r["image_id"] for r in q.select("image_id").collect()) == [
        "b",
        "c",
        "d",
    ]


def test_workers_get_guarded_zip_refresh(spark):
    """A worker that runs a tzspark kernel has imported the package, so its
    per-task importlib.invalidate_caches() skips unchanged zip archives
    (tzspark/_zipimport.py) — on CPython < 3.13, where the stdlib re-reads."""
    import pyarrow as pa

    def probe(batches):
        import zipimport

        from tzspark.cells import in_domain

        for b in batches:
            lat = b.column("lat").to_numpy()
            method = zipimport.zipimporter.invalidate_caches
            yield pa.RecordBatch.from_pydict(
                {
                    "in_domain": pa.array(in_domain(lat, lat)),
                    "method": pa.array([method.__module__] * len(lat)),
                    "py": pa.array([sys.version_info >= (3, 13)] * len(lat)),
                }
            )

    df = spark.range(0, 64, numPartitions=4).selectExpr("CAST(id AS FLOAT) AS lat")
    out = df.mapInArrow(probe, "in_domain boolean, method string, py boolean")
    rows = out.distinct().collect()
    assert {r["in_domain"] for r in rows} == {True}
    for r in rows:
        assert r["method"] == ("zipimport" if r["py"] else "tzspark._zipimport"), rows


def test_tile_rollup(assigned):
    tiles = tile_rollup_fused(assigned).toPandas()
    assert tiles["n_images"].sum() == N
    assert (tiles["mean_luma"] > 0).all() and (tiles["mean_luma"] < 255).all()
    # hot-cell skew visible: top tile should hold a big share
    assert tiles["n_images"].max() > N * 0.05


def test_salted_counts_equal_plain(assigned):
    salted = salted_tile_counts(assigned, n_salt=8).toPandas()
    plain = (
        assigned.groupBy("cell_id")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.col("via_knn").cast("long")).alias("n_via_knn"),
        )
        .toPandas()
    )
    s = salted.sort_values("cell_id").reset_index(drop=True)
    p = plain.sort_values("cell_id").reset_index(drop=True)
    assert s.equals(p)


def test_caption_and_payload_survive_join(assigned):
    # per-row invariant (input_hint): caption equality through the join
    pdf = assigned.select("image_id", "caption").toPandas()
    idx = pdf["image_id"].str[3:].astype(np.int64)
    assert (pdf["caption"] == "cap " + idx.astype(str)).all()


def test_onepass_equals_two_jobs(spark, zones):
    """lookup_tile_onepass (single scan + single Arrow crossing) must produce
    exactly the per-zone rollup of assign_timezones and the per-tile stats of
    tile_rollup_fused."""
    from tzspark.engine import (
        lookup_tile_onepass,
        tile_rollup_fused,
        tile_rollup_view,
        zone_rollup_view,
    )

    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)
    imgs = images_df(spark, 500, partitions=4)
    op = lookup_tile_onepass(imgs, cov).cache()

    zr = zone_rollup_view(op, dim).toPandas().sort_values("zone_id").reset_index(drop=True)
    want_zr = (
        assign_timezones(imgs, cov, dim)
        .groupBy("zone_id", "tzid")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.col("via_knn").cast("long")).alias("n_via_knn"),
        )
        .toPandas()
        .sort_values("zone_id")
        .reset_index(drop=True)
    )
    assert zr[["zone_id", "n_images", "n_via_knn", "tzid"]].equals(
        want_zr[["zone_id", "n_images", "n_via_knn", "tzid"]]
    )

    tr = tile_rollup_view(op).toPandas().sort_values("cell_id").reset_index(drop=True)
    want_tr = tile_rollup_fused(imgs).toPandas().sort_values("cell_id").reset_index(drop=True)
    assert tr["cell_id"].equals(want_tr["cell_id"])
    assert tr["n_images"].equals(want_tr["n_images"])
    assert tr["n_pixels"].equals(want_tr["n_pixels"])
    np.testing.assert_allclose(tr["mean_luma"], want_tr["mean_luma"], rtol=1e-12)
    np.testing.assert_allclose(tr["mean_lat"], want_tr["mean_lat"], rtol=1e-12)


def test_default_driver_memory_from_host(monkeypatch):
    """get_spark's default spark.driver.memory is half of physical memory
    (SC_PHYS_PAGES x SC_PAGE_SIZE), capped at 32g."""
    import os

    from tzspark.engine import default_driver_memory

    page = 4096
    for phys_gib, want in ((16, "8192m"), (15.5, "7936m"), (64, "32768m"), (256, "32768m")):
        pages = int(phys_gib * (1 << 30)) // page
        monkeypatch.setattr(os, "sysconf", lambda k, n=pages: {
            "SC_PAGE_SIZE": page, "SC_PHYS_PAGES": n}[k])
        assert default_driver_memory() == want
