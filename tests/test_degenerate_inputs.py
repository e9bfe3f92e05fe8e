"""Empty, one-row and all-quarantined image inputs through the lookup's
Spark entry points: the facade's assign, covertable.assign_via_join, a
union_tenants cover and engine.lookup_tile_onepass. Each input runs in 4
partitions, so the Python workers get zero-row and one-row Arrow streams;
each case checks the output schema and its row count."""

import pytest
from pyspark.sql import functions as F

from tzspark.api import TimezoneLookup
from tzspark.cells import compile_cover
from tzspark.covertable import CoverTables, assign_images_via_join, assign_via_join
from tzspark.datasets import images_df
from tzspark.engine import (
    extract_gps_udf,
    gps_header_col,
    lookup_tile_onepass,
    tile_rollup_view,
    zone_dim_df,
    zone_rollup_view,
)
from tzspark.zones import make_zones

IMAGE_COLS = [
    ("image_id", "string"), ("bytes", "binary"), ("w", "int"), ("h", "int"),
    ("fmt", "string"), ("caption", "string"), ("phash", "bigint"),
]
LOOKUP_COLS = [("lat", "float"), ("lng", "float"), ("quarantined", "boolean")]
# the tzid join moves zone_id to the front
ASSIGNED = ([("zone_id", "int")] + IMAGE_COLS + LOOKUP_COLS
            + [("via_knn", "boolean"), ("cell_id", "bigint"), ("tzid", "string")])
TENANT_ASSIGNED = (IMAGE_COLS + [("tenant", "string")] + LOOKUP_COLS
                   + [("zone_id", "int"), ("via_knn", "boolean"), ("cell_id", "bigint")])
POINTS_ASSIGNED = [
    ("image_id", "string"), ("lat", "float"), ("lng", "float"),
    ("zone_id", "int"), ("via_knn", "boolean"),
]
ONEPASS = [
    ("grp", "int"), ("key", "bigint"), ("n", "bigint"), ("n_knn", "bigint"),
    ("n_pixels", "bigint"), ("luma_sum", "double"), ("lat_sum", "double"),
    ("lng_sum", "double"),
]

# name -> (rows in, rows with a valid GPS header)
INPUTS = {"empty": (0, 0), "single": (1, 1), "quarantined": (4, 0)}


def _images(spark, name):
    """4 partitions of synthetic images: filtered to none (a predicate on
    the Python-made column, so Spark cannot prune the tasks), one row, or
    four rows whose blobs lost their magic bytes."""
    if name == "empty":
        return images_df(spark, 4, partitions=4).where(F.col("w") < 0)
    if name == "single":
        return images_df(spark, 1, partitions=4)
    bad = F.concat(F.lit(bytearray(b"XXXX")), F.expr("substring(bytes, 5)"))
    return images_df(spark, 4, partitions=4).withColumn("bytes", bad)


@pytest.fixture(scope="module")
def world(spark):
    zones = make_zones(n_coast=200)
    idx = compile_cover(zones)
    return {
        "tl": TimezoneLookup(zones),
        "cover": CoverTables.from_index(spark, idx),
        "tenants": CoverTables.union_tenants(
            spark, {"a": idx, "b": compile_cover(zones[:9])}),
        "dim": zone_dim_df(spark, zones),
    }


@pytest.mark.parametrize("name", sorted(INPUTS))
def test_assign(spark, world, name):
    _, n_ok = INPUTS[name]
    out = world["tl"].assign(spark, _images(spark, name))
    assert out.dtypes == ASSIGNED
    assert out.count() == n_ok


@pytest.mark.parametrize("name", sorted(INPUTS))
def test_assign_via_join(spark, world, name):
    """One row per input row; a blob without valid GPS is a point with
    null coordinates, which gets (-1, False)."""
    n_in, n_ok = INPUTS[name]
    g = extract_gps_udf()(gps_header_col(F.col("bytes"))).alias("g")
    ok = F.col("g.gps_ok")
    points = _images(spark, name).select("image_id", g).select(
        "image_id", F.when(ok, F.col("g.lat")).alias("lat"),
        F.when(ok, F.col("g.lng")).alias("lng"))
    out = assign_via_join(points, world["cover"])
    assert out.dtypes == POINTS_ASSIGNED
    rows = out.collect()
    assert len(rows) == n_in
    assert sum(r["zone_id"] >= 0 for r in rows) == n_ok
    assert all((r["zone_id"], r["via_knn"]) == (-1, False) for r in rows if r["lat"] is None)


@pytest.mark.parametrize("name", sorted(INPUTS))
def test_union_tenants_cover(spark, world, name):
    _, n_ok = INPUTS[name]
    imgs = _images(spark, name).withColumn("tenant", F.lit("a"))
    out = assign_images_via_join(imgs, world["tenants"])
    assert out.dtypes == TENANT_ASSIGNED
    assert out.count() == n_ok


@pytest.mark.parametrize("name", sorted(INPUTS))
def test_lookup_tile_onepass(spark, world, name):
    """A valid image is one per-zone and one per-tile row; no valid image
    is no row at all."""
    _, n_ok = INPUTS[name]
    op = lookup_tile_onepass(_images(spark, name), world["cover"]).cache()
    assert op.dtypes == ONEPASS
    assert zone_rollup_view(op, world["dim"]).count() == n_ok
    assert tile_rollup_view(op).count() == n_ok
    op.unpersist()
