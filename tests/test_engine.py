"""End-to-end Spark pipeline vs the committed golden oracle."""

import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from tzspark.cells import DEFAULT_MAX_RES, cell_id
from tzspark.datasets import images_df, synth_coords
from tzspark.engine import (
    assign_timezones,
    broadcast_cover,
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
    idx_b, stats = broadcast_cover(spark, zones)
    dim = zone_dim_df(spark, zones)
    imgs = images_df(spark, N, partitions=4)
    df = assign_timezones(imgs, idx_b, dim)
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
    idx_b, _ = broadcast_cover(spark, zones)
    dim = zone_dim_df(spark, zones)
    ok = assign_timezones(df, idx_b, dim)
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

    idx_b, _ = broadcast_cover(spark, zones)
    dim = zone_dim_df(spark, zones)
    imgs = images_df(spark, 500, partitions=4)
    op = lookup_tile_onepass(imgs, idx_b).cache()

    zr = zone_rollup_view(op, dim).toPandas().sort_values("zone_id").reset_index(drop=True)
    want_zr = (
        assign_timezones(imgs, idx_b, dim)
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
