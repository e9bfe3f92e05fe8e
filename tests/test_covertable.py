"""The shipped index file (covertable.py): the probes over it must equal the
driver-side kernels exactly — resolve, kNN, and the full facade assignment —
including on the reference-scale world zone set. Its kernel is
cells.assign_points on the index mapped from its file, so the mapped index
must answer exactly like the in-memory one."""

import json
import os
import tempfile

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tzspark.cells import (
    Zone,
    assign_points,
    compile_cover,
    knn_fallback,
    open_index,
    resolve_points,
    save_index,
)
from tzspark.covertable import (
    CoverTables,
    assign_via_join,
    knn_via_join,
    resolve_via_join,
)
from tzspark.engine import assign_udf, with_contained_zone
from tzspark.geom import F32
from tzspark.queries_geo import box_zones, pts_df, q12_knn_engine

from tests.test_cover_property import _ring

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def box_cover(spark):
    zones = box_zones(spark, SF)
    idx = compile_cover(zones, base_res=3, max_res=7)
    return idx, CoverTables.from_index(spark, idx)


def _pd(df, cols):
    return df.select(*cols).toPandas().set_index(cols[0]).sort_index()


def _file_assign(idx, lat, lng):
    """cells.assign_points on ``idx`` written to an index file and mapped
    back (cells.open_index), as every join-path worker reads it."""
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "index")
        save_index(idx, path)
        return assign_points(open_index(path), lat, lng)


@settings(max_examples=25, deadline=None)
@given(
    seeds=st.lists(
        st.tuples(
            st.floats(-80, 80), st.floats(-170, 170), st.floats(0.5, 40.0),
            st.integers(3, 40), st.floats(0, 6.28),
        ),
        min_size=1,
        max_size=6,
    ),
    base_res=st.sampled_from([3, 4]),
    probe_seed=st.integers(0, 2**31 - 1),
)
def test_file_index_equals_memory_index(seeds, base_res, probe_seed):
    """assign_points on the file-mapped index == on the in-memory index
    (zone_id and via_knn) on random points, ring vertices, edge midpoints,
    points exactly on coarse grid lines and on the clamped grid edges, NaN
    and out-of-domain input."""
    zones = [
        Zone(k, f"Z{k}", *_ring(cx, cy, r, n, ph))
        for k, (cy, cx, r, n, ph) in enumerate(seeds)
    ]
    idx = compile_cover(zones, base_res=base_res, max_res=7)
    rng = np.random.default_rng(probe_seed)
    ring_lat = np.concatenate([z.ring_lat for z in zones])
    ring_lng = np.concatenate([z.ring_lng for z in zones])
    mid_lat = np.concatenate(
        [(z.ring_lat + np.roll(z.ring_lat, -1)) / F32(2) for z in zones]
    )
    mid_lng = np.concatenate(
        [(z.ring_lng + np.roll(z.ring_lng, -1)) / F32(2) for z in zones]
    )
    n = 1 << base_res
    b_lat = -90.0 + 180.0 * np.arange(n + 1) / n  # base-res cell edges
    b_lng = -180.0 + 360.0 * np.arange(n + 1) / n
    g_lat, g_lng = np.meshgrid(b_lat, b_lng)
    u_lat, u_lng = rng.uniform(-90, 90, 300), rng.uniform(-180, 180, 300)
    lat = np.concatenate([
        u_lat, ring_lat, mid_lat, g_lat.ravel(), rng.choice(b_lat, 200), u_lat[:200],
        np.full(50, 90.0), np.full(50, -90.0), u_lat[:50], u_lat[:50],
        [np.nan, 5.0, np.nan, 95.0, -95.0, 10.0, 10.0, 1e9],
    ]).astype(F32)
    lng = np.concatenate([
        u_lng, ring_lng, mid_lng, g_lng.ravel(), u_lng[:200], rng.choice(b_lng, 200),
        u_lng[:50], u_lng[:50], np.full(50, 180.0), np.full(50, -180.0),
        [10.0, np.nan, np.nan, 10.0, 10.0, 200.0, -200.0, 0.0],
    ]).astype(F32)
    want = assign_points(idx, lat, lng)
    got = _file_assign(idx, lat, lng)
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])


def test_file_index_equals_memory_index_bench_world():
    """The benchmark's 480-zone world cut (zones whose bbox centre lies in
    lat [0, 24] x lng [0, 36]): 100k synth_coords points, identical answers
    on the file-mapped and the in-memory index."""
    from tzspark.datasets import synth_coords
    from tzspark.zones import make_world_zones

    zones = [z for z in make_world_zones()
             if 0 <= (z.ring_lat.min() + z.ring_lat.max()) / 2 <= 24
             and 0 <= (z.ring_lng.min() + z.ring_lng.max()) / 2 <= 36]
    assert len(zones) == 480
    idx = compile_cover(zones)
    lat, lng = synth_coords(np.arange(100_000))
    want = assign_points(idx, lat, lng)
    got = _file_assign(idx, lat, lng)
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])
    assert want[1].any() and (~want[1]).any()  # both regimes exercised


def test_join_nan_null_and_out_of_domain(spark):
    """NaN and null coordinates get (-1, False) on the join path, as from
    cells.assign_points on the driver; out-of-domain points get
    their kNN zone. Checked through assign_via_join and both thin
    wrappers."""
    from tzspark.zones import make_zones

    idx = compile_cover(make_zones())
    cov = CoverTables.from_index(spark, idx)
    rows = [(1, float("nan"), 10.0), (2, None, 10.0), (3, 10.0, float("nan")),
            (4, 95.0, 10.0), (5, 10.0, 200.0), (6, 10.0, 10.0), (7, 45.0, 45.0)]
    p = spark.createDataFrame(rows, "k long, lat double, lng double")
    la = np.array([np.nan if r[1] is None else r[1] for r in rows], F32)
    lg = np.array([r[2] for r in rows], F32)
    zid, via = assign_points(idx, la, lg)
    want = {r[0]: (int(z), bool(v)) for r, z, v in zip(rows, zid, via)}
    assert want[1] == want[2] == want[3] == (-1, False)
    assert want[4] == (33, True) and want[5] == (32, True)

    got = {r["k"]: (r["zone_id"], r["via_knn"])
           for r in assign_via_join(p, cov).collect()}
    assert got == want
    got_r = {r["k"]: r["zone_id"] for r in resolve_via_join(p, cov).collect()}
    assert got_r == {k: (-1 if v else z) for k, (z, v) in want.items()}
    got_k = {r["k"]: r["zone_id"] for r in knn_via_join(p, cov).collect()}
    assert got_k == {k: z for k, (z, v) in want.items() if v}


def test_assign_via_join_any_key(spark):
    """One output row per input row whatever its key holds: duplicate and
    null keys keep every row, with the assign_udf answers (nothing joins
    back on a key)."""
    from tzspark.engine import assign_udf
    from tzspark.zones import make_zones

    idx = compile_cover(make_zones())
    cov = CoverTables.from_index(spark, idx)
    rows = [(1, 10.0, 10.0, 0), (1, 45.0, 45.0, 1), (1, 10.0, 10.0, 2),
            (None, 3.0, 3.0, 3), (None, 95.0, 10.0, 4), (2, None, 1.0, 5)]
    p = spark.createDataFrame(rows, "k long, lat double, lng double, row int")
    want = p.select("row", assign_udf(cov)(F.col("lat"), F.col("lng")).alias("a")).select(
        "row", "a.zone_id", "a.via_knn")
    got = assign_via_join(p, cov)
    assert got.count() == len(rows)
    assert sorted(got.select("row", "zone_id", "via_knn").collect()) == sorted(want.collect())
    assert sorted(r["k"] for r in got.collect() if r["k"] is not None) == [1, 1, 1, 2]


def test_stale_persisted_cover_is_regenerated(spark, tmp_path):
    """The cover_tables of a TimezoneLookup(cache_dir=...) regenerates,
    never reads, the index file at its key when it was damaged after the
    facade opened it: truncated, of another layout version, with an array
    past its end, or a pickle. The rewritten file maps to the index and the
    answers are right. CoverTables.load rejects a saved cover holding such
    a file, and the old shard-table layout."""
    from test_cover_compile import PLANTS, _plant
    from test_index_update import assert_index_equal

    from tzspark.api import TimezoneLookup
    from tzspark.zones import make_zones

    zones = make_zones(n_coast=200)
    other = compile_cover(zones[:5])  # wrong answers if read
    p = pts_df(spark, SF)
    pp = p.toPandas()
    want = None
    for plant in PLANTS:
        cache = str(tmp_path / plant)
        tl = TimezoneLookup(zones, cache_dir=cache)
        if want is None:
            zid, via = assign_points(tl.idx, pp["lat"].to_numpy(F32),
                                     pp["lng"].to_numpy(F32))
            want = dict(zip(pp["event_id"], zip(zid.tolist(), via.tolist())))
        (name,) = os.listdir(cache)
        path = os.path.join(cache, name)
        # other's index at tl's key, as a new file: tl.idx maps the old one
        save_index(other, path + ".other")
        os.replace(path + ".other", path)
        _plant(path, plant)
        cov = tl.cover_tables(spark)
        assert cov.files == {None: path}
        assert_index_equal(open_index(path), tl.idx)
        got = {r["event_id"]: (r["zone_id"], r["via_knn"])
               for r in assign_via_join(p, cov).collect()}
        assert got == want, plant

        saved = str(tmp_path / f"saved_{plant}")
        CoverTables.from_index(spark, other).save(saved)
        with open(f"{saved}/meta.json") as f:
            ((_, name),) = json.load(f)["files"]
        _plant(os.path.join(saved, name), plant)
        with pytest.raises(ValueError):
            CoverTables.load(spark, saved)
    shards = str(tmp_path / "shard_layout")  # the shard-blob table and its meta
    spark.range(3).write.parquet(f"{shards}/shards")
    with open(f"{shards}/meta.json", "w") as f:
        json.dump({"layout": 1, "base_res": 4, "max_res": 10, "knn_res": 8,
                   "shard_res": 4, "keys": []}, f)
    with pytest.raises(ValueError):
        CoverTables.load(spark, shards)


def _driver_answers(idx, p):
    """(event_id-indexed pts_df, zone_id, via_knn) from cells.assign_points
    on ``idx`` in this process."""
    pp = _pd(p, ["event_id", "lat", "lng"])
    return pp, *assign_points(idx, pp["lat"].to_numpy(F32), pp["lng"].to_numpy(F32))


def test_resolve_join_equals_kernels(spark, box_cover):
    """resolve_via_join and q11's with_contained_zone(assign_udf) probe of
    the shipped file == cells.resolve_points semantics on the driver."""
    idx, cov = box_cover
    p = pts_df(spark, SF)
    pp, zid, via = _driver_answers(idx, p)
    want = np.where(via, -1, zid)
    probe = _pd(with_contained_zone(p, assign_udf(cov)), ["event_id", "zone_id"])
    got = _pd(resolve_via_join(p, cov), ["event_id", "zone_id"])
    assert got.index.tolist() == probe.index.tolist() == pp.index.tolist()
    np.testing.assert_array_equal(probe["zone_id"].to_numpy(), want)
    np.testing.assert_array_equal(got["zone_id"].to_numpy(), want)
    assert (got["zone_id"] == -1).any()  # both regimes exercised
    assert (got["zone_id"] >= 0).any()


def test_q12_one_python_stage(spark, box_cover):
    """q12 is ONE assign probe filtered on via_knn: exactly one
    ArrowEvalPython (the filter must not re-evaluate the probe), and its
    rows are the kNN answers of exactly the points no box contains."""
    idx, _ = box_cover
    df = q12_knn_engine(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    got = _pd(df, ["event_id", "zone_id"])
    p = _pd(pts_df(spark, SF), ["event_id", "lat", "lng"])
    la, lg = p["lat"].to_numpy(F32), p["lng"].to_numpy(F32)
    un = resolve_points(idx, la, lg) == -1
    assert got.index.tolist() == p.index[un].tolist()
    assert got["zone_id"].tolist() == knn_fallback(idx, la[un], lg[un]).tolist()


def test_assign_join_equals_kernels(spark, box_cover):
    """assign_via_join over the shipped file == cells.assign_points on the
    driver, zone_id and via_knn."""
    idx, cov = box_cover
    p = pts_df(spark, SF)
    pp, zid, via = _driver_answers(idx, p)
    got = _pd(assign_via_join(p, cov), ["event_id", "zone_id", "via_knn"])
    assert got.index.tolist() == pp.index.tolist()
    np.testing.assert_array_equal(got["zone_id"].to_numpy(), zid)
    np.testing.assert_array_equal(got["via_knn"].to_numpy(), via)


def test_save_load_roundtrip(spark, box_cover, tmp_path):
    idx, cov = box_cover
    path = str(tmp_path / "cover")
    cov.save(path)
    cov2 = CoverTables.load(spark, path)
    assert (cov2.base_res, cov2.max_res, cov2.knn_res) == (
        cov.base_res, cov.max_res, cov.knn_res,
    )
    p = pts_df(spark, SF).limit(2000)
    a = _pd(resolve_via_join(p, cov), ["event_id", "zone_id"])
    b = _pd(resolve_via_join(p, cov2), ["event_id", "zone_id"])
    assert (a["zone_id"] == b["zone_id"]).all()


def test_facade_assign_join_equals_assign(spark, tmp_path):
    """TimezoneLookup(cache_dir=...).assign_join, which ships the index file
    kept in cache_dir, == TimezoneLookup.assign over a CoverTables.from_index
    spool file, on the image table (full pipeline: GPS extract -> quarantine
    -> assign -> tzid), against the synthetic zone set incl.
    concave/hole/coast/ocean shapes."""
    from tzspark.api import TimezoneLookup
    from tzspark.datasets import images_from_events
    from tzspark.zones import make_zones

    zones = make_zones(n_coast=2000)
    tl = TimezoneLookup(zones, cache_dir=str(tmp_path))
    imgs = images_from_events(spark, SF)
    cols = ["image_id", "zone_id", "via_knn", "tzid", "cell_id"]
    want = _pd(TimezoneLookup(zones).assign(spark, imgs), cols)
    got = _pd(tl.assign_join(spark, imgs), cols)
    ((_, path),) = tl.cover_tables(spark).files.items()
    assert os.path.dirname(path) == str(tmp_path)
    assert len(want) == len(got)
    for c in cols[1:]:
        assert (want[c] == got[c]).all(), c


def test_world_scale_join_parity(spark):
    """The join path on a reference-shaped world set (multi-thousand zones,
    index form with b_edge_idx) — equal to the driver-side kernels on random
    points across both matched and kNN regimes."""
    from tzspark.zones import make_world_zones

    idx = compile_cover(make_world_zones(n_tzids=160))  # 3,200 polygons
    cov = CoverTables.from_index(spark, idx)
    rng = np.random.default_rng(23)
    n = 20_000
    lat = rng.uniform(-60, 60, n).astype(np.float32)
    lng = rng.uniform(-180, 180, n).astype(np.float32)
    want = resolve_points(idx, lat, lng)
    un = want == -1
    want_knn = knn_fallback(idx, lat[un], lng[un])

    p = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lng[i])) for i in range(n)],
        "pid long, lat float, lng float",
    )
    got = _pd(resolve_via_join(p, cov), ["pid", "zone_id"])
    np.testing.assert_array_equal(got["zone_id"].to_numpy(), want)

    unmatched = p.join(
        spark.createDataFrame([(int(i),) for i in np.flatnonzero(un)], "pid long"),
        "pid",
    )
    gk = _pd(knn_via_join(unmatched, cov), ["pid", "zone_id"])
    np.testing.assert_array_equal(gk["zone_id"].to_numpy(), want_knn)


def test_union_tenants_isolation(spark):
    """Multi-tenant cover: the same point resolves against ITS tenant's
    zone set only — a point inside tenant A's box is offshore (kNN) for
    tenant B, and each tenant's answer equals its own single-tenant
    kernel; a tenant with no cover gets (-1, False)."""
    from tzspark.cells import Zone

    za = [Zone(0, "A/Box", np.array([0, 0, 10, 10], F32),
               np.array([0, 10, 10, 0], F32))]
    zb = [Zone(0, "B/Box", np.array([40, 40, 50, 50], F32),
               np.array([40, 50, 50, 40], F32))]
    ia = compile_cover(za, base_res=3, max_res=7)
    ib = compile_cover(zb, base_res=3, max_res=7)
    cov = CoverTables.union_tenants(spark, {"a": ia, "b": ib})
    assert cov.keys == ("tenant",)

    import pandas as pd

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 2, 3, 4, 5, 6],
                "lat": np.array([5.0, 5.0, 45.0, 45.0, 5.0, 45.0], np.float32),
                "lng": np.array([5.0, 5.0, 45.0, 45.0, 5.0, 45.0], np.float32),
                "tenant": ["a", "b", "a", "b", "c", None],
            }
        )
    )
    got = {
        r["k"]: (r["zone_id"], r["via_knn"])
        for r in assign_via_join(pts, cov).collect()
    }
    # (5,5): inside A's box; offshore for B -> kNN still lands on B's only zone
    assert got[1] == (0, False)
    assert got[2] == (0, True)
    # (45,45): mirror image
    assert got[3] == (0, True)
    assert got[4] == (0, False)
    # a tenant without a cover, and a null tenant: no answer
    assert got[5] == got[6] == (-1, False)

    # per-tenant equality vs the single-tenant kernels
    la = np.array([5.0, 45.0], np.float32)
    lg = np.array([5.0, 45.0], np.float32)
    assert resolve_points(ia, la, lg).tolist() == [0, -1]
    assert knn_fallback(ib, la[:1], lg[:1]).tolist() == [0]


def test_union_tenants_image_path(spark):
    """assign_images_via_join on a tenant-keyed cover: each image gets its
    own tenant's answers (those of that tenant's single cover), images of
    a tenant without a cover are kept with (-1, False), and the output
    columns are the single-cover path's plus nothing."""
    from tzspark.covertable import assign_images_via_join
    from tzspark.datasets import images_df
    from tzspark.zones import make_zones

    ia = compile_cover(make_zones(n_coast=200))
    ib = compile_cover(make_zones(n_coast=200)[:9])
    imgs = images_df(spark, 600, partitions=3).withColumn(
        "tenant", F.element_at(F.array(F.lit("a"), F.lit("b"), F.lit("c")),
                               (F.crc32("image_id") % 3 + 1).cast("int")))
    cols = ["image_id", "tenant", "lat", "zone_id", "via_knn", "cell_id"]
    got = assign_images_via_join(imgs, CoverTables.union_tenants(spark, {"a": ia, "b": ib}))
    got = sorted(got.select(*cols).collect())
    want = []
    for t, idx in (("a", ia), ("b", ib)):
        one = assign_images_via_join(imgs.where(F.col("tenant") == t),
                                     CoverTables.from_index(spark, idx))
        want += one.select(*cols).collect()
    rest = imgs.where(F.col("tenant") == "c")
    n_c = assign_images_via_join(rest, CoverTables.from_index(spark, ia)).count()
    assert [r for r in got if r["tenant"] != "c"] == sorted(want)
    c_rows = [r for r in got if r["tenant"] == "c"]
    assert len(c_rows) == n_c > 0
    assert {(r["zone_id"], r["via_knn"]) for r in c_rows} == {(-1, False)}


def test_no_lookup_broadcasts_the_index(spark, monkeypatch):
    """Every lookup reaches its index as the shipped file: with
    SparkContext.broadcast refusing a CompiledIndex (and any pickling of
    one, the other way an index could ride to a worker), the facade's
    assign and assign_join, lookup_tile_onepass, zonal_channel_rollup and
    q11/q12/q89 still answer as the driver-side kernels and the DuckDB
    oracles do."""
    import duckdb
    from pyspark import SparkContext

    from tzspark.api import TimezoneLookup
    from tzspark.cells import CompiledIndex
    from tzspark.datasets import images_df, synth_coords
    from tzspark.engine import (
        lookup_tile_onepass,
        zonal_channel_rollup,
        zone_dim_df,
        zone_rollup_view,
    )
    from tzspark.queries_geo import (
        Q11_SQL,
        Q12_SQL,
        Q89_SQL,
        q11_resolve_cover,
        q89_versioned_resolve,
    )
    from tzspark.zones import make_zones

    real = SparkContext.broadcast

    def refuse(sc, value):
        if isinstance(value, CompiledIndex):
            raise TypeError("a CompiledIndex was broadcast")
        return real(sc, value)

    def no_pickle(idx, protocol):
        raise TypeError("a CompiledIndex was pickled")

    monkeypatch.setattr(SparkContext, "broadcast", refuse)
    monkeypatch.setattr(CompiledIndex, "__reduce_ex__", no_pickle, raising=False)

    zones = make_zones(n_coast=400)
    tl = TimezoneLookup(zones)
    imgs = images_df(spark, 400, partitions=2)
    tz = {int(z.zone_id): z.tzid for z in zones}
    for call in (tl.assign, tl.assign_join):
        pdf = call(spark, imgs).select("image_id", "zone_id", "tzid").toPandas()
        pdf = pdf.sort_values("image_id")
        lat, lng = synth_coords(pdf["image_id"].str[3:].astype(np.int64).to_numpy())
        want = tl.search_many(lat, lng)
        np.testing.assert_array_equal(pdf["zone_id"].to_numpy(np.int32), want)
        assert pdf["tzid"].tolist() == [tz[int(z)] for z in want]
    counts = dict(zip(*np.unique(want, return_counts=True)))

    cov, dim = tl.cover_tables(spark), zone_dim_df(spark, zones)
    onepass = zone_rollup_view(lookup_tile_onepass(imgs, cov, tl.max_res), dim)
    zonal = zonal_channel_rollup(imgs, cov, dim)
    for df in (onepass, zonal):
        assert {r["zone_id"]: r["n_images"] for r in df.collect()} == counts

    con = duckdb.connect()
    for t in ("events", "nation"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for q, sql, key in ((q11_resolve_cover, Q11_SQL, ["event_id"]),
                        (q12_knn_engine, Q12_SQL, ["event_id"]),
                        (q89_versioned_resolve, Q89_SQL, ["event_id", "zone_version"])):
        got = q(spark, SF).toPandas().sort_values(key).reset_index(drop=True)
        want_q = con.sql(sql).df().sort_values(key).reset_index(drop=True)
        assert len(got) == len(want_q) > 0
        assert got.astype(str).equals(want_q[got.columns].astype(str)), q.__name__


def test_radius_join_equals_bruteforce(spark):
    """radius_join (grid-blocked distance-bounded join) must return exactly
    the brute-force pair set at several radii and block resolutions,
    including r=0 (bbox containment/touch), a radius larger than a cell,
    rectangles clamped at the domain edge, and planted points on a cell
    edge exactly r from a zone."""
    from tzspark.covertable import radius_join

    rng = np.random.default_rng(23)
    n_pts, n_zones = 400, 30
    lat = rng.uniform(-89.9, 89.9, n_pts).astype(np.float32)
    lng = rng.uniform(-179.9, 179.9, n_pts).astype(np.float32)
    la0 = rng.uniform(-88, 80, n_zones)
    lg0 = rng.uniform(-178, 160, n_zones)
    la1 = la0 + rng.uniform(0.5, 15, n_zones)
    lg1 = lg0 + rng.uniform(0.5, 15, n_zones)
    # planted, per radius: a point on a cell edge (lat 22.5, lng 45.0 are
    # edges at every res >= 3) with zones exactly r away across it, and a
    # point exactly r below a zone whose bbox starts on that edge
    radii = [(0.0, 5), (2.5, 6), (8.0, 4), (8.0, 7)]
    lat[0], lng[0] = 22.5, 45.0
    planted = []  # (radius, point, (min_lat, max_lat, min_lng, max_lng))
    for i, r in enumerate(sorted({r for r, _ in radii})):
        lat[1 + i], lng[1 + i] = 22.5 - r, 100.0
        planted += [
            (r, 0, (22.5 + r, 22.5 + r + 1.0, 44.0, 46.0)),
            (r, 0, (22.0, 23.0, 45.0 - r - 1.0, 45.0 - r)),
            (r, 1 + i, (22.5, 24.0, 99.0, 101.0)),
        ]
    la0, la1, lg0, lg1 = (
        np.concatenate([v, [b[k] for _, _, b in planted]])
        for k, v in enumerate((la0, la1, lg0, lg1))
    )

    p = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lng[i])) for i in range(n_pts)],
        "k long, lat double, lng double",
    )
    z = spark.createDataFrame(
        [
            (int(j), float(la0[j]), float(lg0[j]), float(la1[j]), float(lg1[j]))
            for j in range(len(la0))
        ],
        "zone_id long, min_lat double, min_lng double, max_lat double, max_lng double",
    )

    la64 = lat.astype(np.float64)[:, None]
    lg64 = lng.astype(np.float64)[:, None]
    dlat = np.maximum(np.maximum(la0[None] - la64, la64 - la1[None]), 0.0)
    dlng = np.maximum(np.maximum(lg0[None] - lg64, lg64 - lg1[None]), 0.0)
    d2 = dlat * dlat + dlng * dlng

    for radius, res in radii:
        got = {
            (r["k"], r["zone_id"])
            for r in radius_join(p, "k", z, radius=radius, res=res).collect()
        }
        want = {
            (int(i), int(j))
            for i, j in zip(*np.nonzero(d2 <= radius * radius))
        }
        assert got == want, (radius, res, len(got), len(want))
        live = {(k, n_zones + j) for j, (r, k, _) in enumerate(planted) if r == radius}
        assert live and live <= want  # planted cases live


def test_proximity_self_join_equals_bruteforce(spark):
    """proximity_self_join must return exactly the brute-force pair set —
    including coincident points (dist 0), pairs straddling cell borders,
    radii larger than a cell, and planted pairs exactly r apart across a
    cell edge."""
    from tzspark.covertable import proximity_self_join

    rng = np.random.default_rng(29)
    n = 300
    lat = rng.uniform(-89.9, 89.9, n).astype(np.float32)
    lng = rng.uniform(-179.9, 179.9, n).astype(np.float32)
    # force clusters + exact duplicates so the interesting cases exist
    lat[50:80] = lat[20] + rng.uniform(-1, 1, 30).astype(np.float32)
    lng[50:80] = lng[20] + rng.uniform(-1, 1, 30).astype(np.float32)
    lat[90] , lng[90] = lat[91], lng[91]
    # planted: a point on a cell edge (lat 22.5, lng 45.0 are edges at every
    # res >= 3) and, per radius, points exactly r below and r left of it —
    # with lower ids (their rectangle's upper edge lands on the cell edge)
    # and with higher ids (the edge point's rectangle reaches down to them)
    lat[110], lng[110] = 22.5, 45.0
    for i, r in enumerate((0.5, 2.0)):
        for k in (100 + 2 * i, 111 + 2 * i):
            lat[k], lng[k] = 22.5 - r, 45.0
            lat[k + 1], lng[k + 1] = 22.5, 45.0 - r

    p = spark.createDataFrame(
        [(int(i), float(lat[i]), float(lng[i])) for i in range(n)],
        "k long, lat double, lng double",
    )
    la = lat.astype(np.float64)
    lg = lng.astype(np.float64)
    d2 = (la[:, None] - la[None]) ** 2 + (lg[:, None] - lg[None]) ** 2

    for radius, res in [(0.5, 8), (2.0, 6), (2.0, 9)]:
        got = {
            (r["id_a"], r["id_b"])
            for r in proximity_self_join(p, "k", radius=radius, res=res).collect()
        }
        ii, jj = np.nonzero(d2 <= radius * radius)
        want = {(int(i), int(j)) for i, j in zip(ii, jj) if i < j}
        assert got == want, (radius, res, len(got), len(want))
        k = 2 * (radius == 2.0)
        live = {(100 + k, 110), (101 + k, 110), (110, 111 + k), (110, 112 + k)}
        assert live <= want  # planted cases live


def test_point_pairs_within_equals_bruteforce(spark):
    """Two-set radius join (IDW's pair source): cell-blocked result ==
    brute-force cross join, carry column intact, planted pairs exactly r
    apart across a cell edge included."""
    import numpy as np
    from pyspark.sql import functions as F

    from tzspark.covertable import point_pairs_within

    rng = np.random.default_rng(7)
    n_l, n_r = 40, 300
    lpts = [(i, float(lat), float(lng)) for i, (lat, lng) in enumerate(
        zip(rng.uniform(-20, 20, n_l), rng.uniform(-20, 20, n_l)))]
    rpts = [(1000 + i, float(lat), float(lng), float(v)) for i, (lat, lng, v) in
            enumerate(zip(rng.uniform(-20, 20, n_r), rng.uniform(-20, 20, n_r),
                          rng.normal(size=n_r)))]
    # planted: left points on a cell edge (lat/lng 0.0 is an edge at every
    # res) and exactly r below one; right points exactly r away across the
    # edge, one on the edge itself, and one coincident (the r = 0 case)
    lpts[0], lpts[1] = (0, 0.0, 0.0), (1, -1.5, 5.0)
    rpts[0], rpts[1] = (1000, -1.5, 0.0, 0.5), (1001, 0.0, -4.0, 0.25)
    rpts[2], rpts[3] = (1002, 0.0, 0.0, 2.0), (1003, 0.0, 5.0, 4.0)
    planted = {1.5: {(0, 1000), (1, 1003)}, 4.0: {(0, 1001)}, 0.0: {(0, 1002)}}
    L = spark.createDataFrame(lpts, "pid long, lat double, lng double")
    R = spark.createDataFrame(rpts, "sid long, lat double, lng double, value double")

    for radius, res in ((1.5, 8), (4.0, 5), (0.0, 7)):
        got = {
            (r["pid"], r["sid"]): (r["dist2"], r["value"])
            for r in point_pairs_within(
                L, "pid", R, "sid", radius=radius, res=res, carry_cols=["value"]
            ).collect()
        }
        la = np.float32([p[1] for p in lpts]).astype(np.float64)
        lg = np.float32([p[2] for p in lpts]).astype(np.float64)
        ra = np.float32([p[1] for p in rpts]).astype(np.float64)
        rg = np.float32([p[2] for p in rpts]).astype(np.float64)
        d2 = (la[:, None] - ra[None, :]) ** 2 + (lg[:, None] - rg[None, :]) ** 2
        want = {
            (lpts[i][0], rpts[j][0]): (d2[i, j], rpts[j][3])
            for i, j in zip(*np.nonzero(d2 <= radius * radius))
        }
        assert set(got) == set(want), (radius, res)
        assert planted[radius] <= set(want)  # planted cases live
        for k, (gd, gv) in got.items():
            assert abs(gd - want[k][0]) < 1e-12 and gv == want[k][1]


def test_colocation_pairs_equals_bruteforce(spark):
    """Spatiotemporal co-location: the (cell, time-bucket)-blocked self-join
    must return exactly the brute-force pair set — including pairs that
    straddle a time-bucket boundary (t and t+W in adjacent buckets), pairs
    exactly W apart (inclusive edge), same-user pairs excluded, radii
    larger than a cell, and planted pairs exactly r apart across a cell
    edge."""
    import datetime as dt

    from tzspark.covertable import colocation_pairs

    rng = np.random.default_rng(31)
    n = 200
    W = 600  # seconds
    lat = rng.uniform(-60, 60, n).astype(np.float32)
    lng = rng.uniform(-170, 170, n).astype(np.float32)
    # cluster half the points so spatial matches exist
    lat[100:] = lat[:100] + rng.uniform(-1, 1, 100).astype(np.float32)
    lng[100:] = lng[:100] + rng.uniform(-1, 1, 100).astype(np.float32)
    users = rng.integers(0, 12, n)
    t0 = dt.datetime(2024, 1, 1)
    # seconds stream crossing many W-buckets; plant exact-W and boundary pairs
    secs = np.sort(rng.integers(0, 6 * W, n))
    secs[3] = W - 1
    secs[4] = W + 1          # straddles the first bucket edge
    secs[10] = 2 * W
    secs[11] = 3 * W         # exactly W apart, inclusive
    users[3], users[4], users[10], users[11] = 1, 2, 3, 4
    lat[4], lng[4] = lat[3], lng[3]
    lat[11], lng[11] = lat[10] + np.float32(0.1), lng[10]
    # planted: an event on a cell edge (lat 22.5, lng 45.0 are edges at
    # every res >= 3), and other users' events at the same instant exactly
    # r below and r left of it, per radius, with lower and with higher ids
    lat[25], lng[25], users[25] = 22.5, 45.0, 5
    for i, r in enumerate((1.5, 30.0)):
        for k in (20 + 2 * i, 26 + 2 * i):
            lat[k], lng[k], users[k] = 22.5 - r, 45.0, 6
            lat[k + 1], lng[k + 1], users[k + 1] = 22.5, 45.0 - r, 7
    secs[20:30] = secs[20]

    rows = [
        (int(i), int(users[i]), t0 + dt.timedelta(seconds=int(secs[i])),
         float(lat[i]), float(lng[i]))
        for i in range(n)
    ]
    p = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, lat double, lng double"
    )
    la, lg = lat.astype(np.float64), lng.astype(np.float64)
    d2 = (la[:, None] - la[None]) ** 2 + (lg[:, None] - lg[None]) ** 2
    dtm = np.abs(secs[:, None] - secs[None])

    for radius, res in [(1.5, 4), (1.5, 7), (30.0, 3)]:
        got = {
            (r["id_a"], r["id_b"])
            for r in colocation_pairs(
                p, "event_id", "user_id", "ts", radius=radius,
                window_s=W, res=res,
            ).collect()
        }
        ii, jj = np.nonzero(
            (d2 <= radius * radius) & (dtm <= W)
            & (users[:, None] != users[None])
        )
        want = {(int(i), int(j)) for i, j in zip(ii, jj) if i < j}
        assert got == want, (radius, res, len(got), len(want))
        if radius >= 1.5:
            assert (3, 4) in want and (10, 11) in want  # planted cases live
        k = 2 * (radius == 30.0)
        assert {(20 + k, 25), (21 + k, 25), (25, 26 + k), (25, 27 + k)} <= want
