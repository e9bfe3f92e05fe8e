"""Geo operator queries with ANSI-SQL DuckDB oracles.

Each entry: a PySpark DataFrame query (spark, sf_dir) -> DataFrame plus an
equivalent DuckDB SQL string over the same parquet views. Points are derived
deterministically from `events` and rectangular zones from `nation`
(FIXTURES.md §4 recipe) so both engines compute identical doubles.

The queries that matter most are q10-q12: they run the REAL engine kernels
(float32 ray-cast PIP, compiled cell cover, kNN clamp distance) inside
Arrow UDFs and are checked against pure SQL — possible because rectangle
PIP under the reference's half-open edge semantics (SURVEY.md §1.3) is
exactly `lat >= min_lat AND lat < max_lat AND lng >= min_lng AND lng <
max_lng` on float32-truncated coordinates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cells import (
    Zone,
    _ragged_ramp,
    cell_id_col,
    cell_id_sql,
    cell_rowcol_col,
    compile_cover,
    explode_rect_cells,
)
from .engine import as_f32, assign_udf, with_contained_zone, zone_table_df
from .geom import F32

# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------

PTS_SQL = """
SELECT event_id,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
"""

BOXES_SQL = """
SELECT n_nationkey AS zone_id,
       n_name AS tzid,
       CAST((n_nationkey % 5) * 12 - 30 AS DOUBLE) AS min_lat,
       CAST((n_nationkey % 5) * 12 - 18 AS DOUBLE) AS max_lat,
       CAST(CAST(FLOOR(n_nationkey / 5) AS INTEGER) * 20 - 50 AS DOUBLE) AS min_lng,
       CAST(CAST(FLOOR(n_nationkey / 5) AS INTEGER) * 20 - 30 AS DOUBLE) AS max_lng
FROM nation
"""


def pts_df(spark: SparkSession, sf_dir: str, with_user: bool = False) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    extra = ["ts", "user_id"] if with_user else []
    return ev.select(
        "event_id",
        *extra,
        ((F.col("user_id") * 7 % 180) - 90 + F.col("value") / 1e6).alias("lat"),
        ((F.col("event_id") * 13 % 360) - 180).cast("double").alias("lng"),
    )


def boxes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    lat0 = ((F.col("n_nationkey") % 5) * 12 - 30).cast("double")
    lng0 = (F.floor(F.col("n_nationkey") / 5).cast("int") * 20 - 50).cast("double")
    return na.select(
        F.col("n_nationkey").alias("zone_id"),
        F.col("n_name").alias("tzid"),
        lat0.alias("min_lat"),
        (lat0 + 12).alias("max_lat"),
        lng0.alias("min_lng"),
        (lng0 + 20).alias("max_lng"),
    )


def box_zones(spark: SparkSession, sf_dir: str) -> list:
    """nation boxes as Zone rings (integer corners -> float32-exact)."""
    rows = boxes_df(spark, sf_dir).collect()
    zones = []
    for r in rows:
        la0, la1 = r["min_lat"], r["max_lat"]
        lg0, lg1 = r["min_lng"], r["max_lng"]
        zones.append(
            Zone(
                int(r["zone_id"]),
                r["tzid"],
                np.array([la0, la0, la1, la1], F32),
                np.array([lg0, lg1, lg1, lg0], F32),
            )
        )
    return zones


def box_cover(spark: SparkSession, zones: list, mutated: bool = False):
    """The nation boxes' compiled cover (base_res 3, max_res 7) as a shipped
    index file (covertable.CoverTables.from_index), the handle every box
    lookup query probes; ``mutated`` applies _mutate_boxes first (q43, q89's
    v1)."""
    from .covertable import CoverTables

    idx = compile_cover(zones, base_res=3, max_res=7)
    return CoverTables.from_index(spark, _mutate_boxes(idx, zones) if mutated else idx)


_CONTAIN = (
    "p.lat >= b.min_lat AND p.lat < b.max_lat "
    "AND p.lng >= b.min_lng AND p.lng < b.max_lng"
)
_CONTAIN_F32 = (
    "CAST(p.lat AS FLOAT) >= b.min_lat AND CAST(p.lat AS FLOAT) < b.max_lat "
    "AND CAST(p.lng AS FLOAT) >= b.min_lng AND CAST(p.lng AS FLOAT) < b.max_lng"
)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q01_validity_filter(spark, sf_dir):
    """F1: domain predicate + quarantine routing (some rows made invalid)."""
    p = pts_df(spark, sf_dir).withColumn(
        "lat", F.when(F.col("event_id") % 97 == 0, F.col("lat") * 2).otherwise(F.col("lat"))
    )
    return p.select(
        "event_id",
        "lat",
        "lng",
        (
            F.col("lat").between(-90.0, 90.0) & F.col("lng").between(-180.0, 180.0)
        ).alias("is_valid"),
    )


Q01_SQL = f"""
WITH pts AS ({PTS_SQL})
SELECT event_id,
       CASE WHEN event_id % 97 = 0 THEN lat * 2 ELSE lat END AS lat,
       lng,
       (CASE WHEN event_id % 97 = 0 THEN lat * 2 ELSE lat END BETWEEN -90 AND 90
        AND lng BETWEEN -180 AND 180) AS is_valid
FROM pts
"""


def q02_cell_encode(spark, sf_dir):
    """Cell-id encode: pure column arithmetic, no UDF, no shuffle."""
    p = pts_df(spark, sf_dir)
    return p.select(
        "event_id",
        cell_id_col(F.col("lat"), F.col("lng"), 9).alias("cell_r9"),
        cell_id_col(F.col("lat"), F.col("lng"), 4).alias("cell_r4"),
    )


Q02_SQL = f"""
WITH pts AS ({PTS_SQL})
SELECT event_id,
       {cell_id_sql('lat', 'lng', 9)} AS cell_r9,
       {cell_id_sql('lat', 'lng', 4)} AS cell_r4
FROM pts
"""


def q03_bbox_join(spark, sf_dir):
    """J3: half-open bbox range join, small side broadcast."""
    p = pts_df(spark, sf_dir)
    b = boxes_df(spark, sf_dir)
    cond = (
        (p.lat >= b.min_lat)
        & (p.lat < b.max_lat)
        & (p.lng >= b.min_lng)
        & (p.lng < b.max_lng)
    )
    return p.join(F.broadcast(b), cond, "inner").select("event_id", "zone_id", "tzid")


Q03_SQL = f"""
WITH pts AS ({PTS_SQL}), boxes AS ({BOXES_SQL})
SELECT p.event_id, b.zone_id, b.tzid
FROM pts p JOIN boxes b ON {_CONTAIN}
"""


def q04_deterministic_match(spark, sf_dir):
    """J1 disambiguation: boxes widened to overlap -> row_number by zone_id
    picks the deterministic min (the engine's argmin semantics)."""
    p = pts_df(spark, sf_dir)
    b = boxes_df(spark, sf_dir).select(
        "zone_id",
        (F.col("min_lat") - 4).alias("min_lat"),
        (F.col("max_lat") + 4).alias("max_lat"),
        (F.col("min_lng") - 6).alias("min_lng"),
        (F.col("max_lng") + 6).alias("max_lng"),
    )
    cond = (
        (p.lat >= b.min_lat)
        & (p.lat < b.max_lat)
        & (p.lng >= b.min_lng)
        & (p.lng < b.max_lng)
    )
    j = p.join(F.broadcast(b), cond, "inner")
    w = Window.partitionBy("event_id").orderBy("zone_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "zone_id")
    )


Q04_SQL = f"""
WITH pts AS ({PTS_SQL}),
boxes AS (
  SELECT zone_id, min_lat - 4 AS min_lat, max_lat + 4 AS max_lat,
         min_lng - 6 AS min_lng, max_lng + 6 AS max_lng
  FROM ({BOXES_SQL})
)
SELECT p.event_id, MIN(b.zone_id) AS zone_id
FROM pts p JOIN boxes b ON {_CONTAIN}
GROUP BY p.event_id
"""


def q05_knn_fallback(spark, sf_dir):
    """J2: points in no box -> nearest box by squared clamp distance,
    tie-break min zone_id (left-anti + broadcast cross + window argmin)."""
    p = pts_df(spark, sf_dir)
    b = boxes_df(spark, sf_dir)
    cond = (
        (p.lat >= b.min_lat)
        & (p.lat < b.max_lat)
        & (p.lng >= b.min_lng)
        & (p.lng < b.max_lng)
    )
    un = p.join(F.broadcast(b), cond, "left_anti")
    b2 = boxes_df(spark, sf_dir).select(
        "zone_id",
        F.col("min_lat").alias("b_min_lat"),
        F.col("max_lat").alias("b_max_lat"),
        F.col("min_lng").alias("b_min_lng"),
        F.col("max_lng").alias("b_max_lng"),
    )
    x = un.crossJoin(F.broadcast(b2))
    dlat = F.greatest(
        F.col("b_min_lat") - F.col("lat"), F.col("lat") - F.col("b_max_lat"), F.lit(0.0)
    )
    dlng = F.greatest(
        F.col("b_min_lng") - F.col("lng"), F.col("lng") - F.col("b_max_lng"), F.lit(0.0)
    )
    x = x.withColumn("dist2", dlat * dlat + dlng * dlng)
    w = Window.partitionBy("event_id").orderBy("dist2", "zone_id")
    return (
        x.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "zone_id", F.round("dist2", 6).alias("dist2"))
    )


Q05_SQL = f"""
WITH pts AS ({PTS_SQL}), boxes AS ({BOXES_SQL}),
un AS (
  SELECT p.* FROM pts p
  WHERE NOT EXISTS (SELECT 1 FROM boxes b WHERE {_CONTAIN})
),
d AS (
  SELECT p.event_id, b.zone_id,
         POWER(GREATEST(b.min_lat - p.lat, p.lat - b.max_lat, 0), 2)
       + POWER(GREATEST(b.min_lng - p.lng, p.lng - b.max_lng, 0), 2) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY POWER(GREATEST(b.min_lat - p.lat, p.lat - b.max_lat, 0), 2)
                                   + POWER(GREATEST(b.min_lng - p.lng, p.lng - b.max_lng, 0), 2),
                                     b.zone_id) AS rn
  FROM un p CROSS JOIN boxes b
)
SELECT event_id, zone_id, ROUND(dist2, 6) AS dist2 FROM d WHERE rn = 1
"""


def q06_tile_counts(spark, sf_dir):
    """Tile group-by: per-cell counts + value stats."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = pts_df(spark, sf_dir).join(ev.select("event_id", "value"), "event_id")
    return (
        p.withColumn("cell_id", cell_id_col(F.col("lat"), F.col("lng"), 6))
        .groupBy("cell_id")
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


Q06_SQL = f"""
WITH pts AS ({PTS_SQL})
SELECT {cell_id_sql('p.lat', 'p.lng', 6)} AS cell_id,
       COUNT(*) AS n_points,
       ROUND(SUM(e.value), 4) AS sum_value
FROM pts p JOIN events e ON p.event_id = e.event_id
GROUP BY 1
"""


def q07_salted_agg(spark, sf_dir):
    """Skew pattern: salted two-phase aggregation == plain aggregation.
    The oracle is the PLAIN aggregation — proving salting is semantics-free."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = pts_df(spark, sf_dir).join(ev.select("event_id", "value"), "event_id")
    p = p.withColumn("cell_id", cell_id_col(F.col("lat"), F.col("lng"), 4))
    salted = p.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    partial = salted.groupBy("cell_id", "salt").agg(
        F.count("*").alias("pc"), F.sum("value").alias("pv")
    )
    return partial.groupBy("cell_id").agg(
        F.sum("pc").alias("n_points"), F.round(F.sum("pv"), 2).alias("sum_value")
    )


Q07_SQL = f"""
WITH pts AS ({PTS_SQL})
SELECT {cell_id_sql('p.lat', 'p.lng', 4)} AS cell_id,
       COUNT(*) AS n_points,
       ROUND(SUM(e.value), 2) AS sum_value
FROM pts p JOIN events e ON p.event_id = e.event_id
GROUP BY 1
"""


def q08_zone_bounds(spark, sf_dir):
    """A3: global bounds of the zone set (reference RTree.Bounds analog)."""
    b = boxes_df(spark, sf_dir)
    return b.agg(
        F.min("min_lat").alias("g_min_lat"),
        F.min("min_lng").alias("g_min_lng"),
        F.max("max_lat").alias("g_max_lat"),
        F.max("max_lng").alias("g_max_lng"),
        F.count("*").alias("n_zones"),
    )


Q08_SQL = f"""
SELECT MIN(min_lat) AS g_min_lat, MIN(min_lng) AS g_min_lng,
       MAX(max_lat) AS g_max_lat, MAX(max_lng) AS g_max_lng,
       COUNT(*) AS n_zones
FROM ({BOXES_SQL})
"""


def q09_zone_table_build(spark, sf_dir):
    """S9: zone-table build with dense ordinal ids (AddTimezone analog) —
    re-keys zones by bbox order via row_number."""
    b = boxes_df(spark, sf_dir)
    w = Window.orderBy("min_lat", "min_lng", "zone_id")
    return b.select(
        (F.row_number().over(w) - 1).alias("dense_zone_id"),
        F.col("zone_id").alias("src_zone_id"),
        "tzid",
        "min_lat",
        "min_lng",
        "max_lat",
        "max_lng",
    )


Q09_SQL = f"""
SELECT ROW_NUMBER() OVER (ORDER BY min_lat, min_lng, zone_id) - 1 AS dense_zone_id,
       zone_id AS src_zone_id, tzid, min_lat, min_lng, max_lat, max_lng
FROM ({BOXES_SQL})
"""


def q10_pip_exact_kernel(spark, sf_dir):
    """F4: the REAL float32 ray-cast kernel (full-ring PIP + argmin, no cell
    cover) against rectangle rings — oracle: half-open f32 containment."""
    from .zones import oracle_resolve

    zones = box_zones(spark, sf_dir)
    bz = spark.sparkContext.broadcast(zones)

    @F.arrow_udf(T.IntegerType())
    def _pip(lat: pa.Array, lng: pa.Array) -> pa.Array:
        zid, _ = oracle_resolve(bz.value, as_f32(lat), as_f32(lng))
        return pa.array(zid, pa.int32())

    p = pts_df(spark, sf_dir)
    return p.select("event_id", _pip(F.col("lat"), F.col("lng")).alias("zone_id"))


Q10_SQL = f"""
WITH pts AS ({PTS_SQL}), boxes AS ({BOXES_SQL})
SELECT p.event_id,
       CAST(COALESCE(MIN(CASE WHEN {_CONTAIN_F32} THEN b.zone_id END), -1) AS INTEGER) AS zone_id
FROM pts p CROSS JOIN boxes b
GROUP BY p.event_id
"""


def q11_resolve_cover(spark, sf_dir):
    """J1: the full engine path — compiled cell cover (interior shortcut +
    boundary exact PIP) probed in an Arrow UDF (engine.assign_udf, kNN
    answers masked to -1 by with_contained_zone). Same oracle as q10."""
    cov = box_cover(spark, box_zones(spark, sf_dir))
    p = with_contained_zone(pts_df(spark, sf_dir), assign_udf(cov))
    return p.select("event_id", "zone_id")


Q11_SQL = Q10_SQL


def q12_knn_engine(spark, sf_dir):
    """J2 engine kernel: unmatched points -> numpy clamp-distance argmin.

    One assign probe, filtered on via_knn: a single Python stage. The probe
    is marked nondeterministic so Catalyst cannot copy it into the filter
    (the q106 single-evaluation guard)."""
    probe = assign_udf(box_cover(spark, box_zones(spark, sf_dir))).asNondeterministic()
    a = pts_df(spark, sf_dir).select(
        "event_id", probe(F.col("lat"), F.col("lng")).alias("a")
    )
    return a.where(F.col("a.via_knn")).select("event_id", "a.zone_id")


Q12_SQL = f"""
WITH pts AS ({PTS_SQL}), boxes AS ({BOXES_SQL}),
un AS (
  SELECT p.* FROM pts p
  WHERE NOT EXISTS (SELECT 1 FROM boxes b WHERE {_CONTAIN_F32})
),
d AS (
  SELECT p.event_id, b.zone_id,
         ROW_NUMBER() OVER (
           PARTITION BY p.event_id
           ORDER BY POWER(GREATEST(b.min_lat - CAST(p.lat AS FLOAT), CAST(p.lat AS FLOAT) - b.max_lat, 0), 2)
                  + POWER(GREATEST(b.min_lng - CAST(p.lng AS FLOAT), CAST(p.lng AS FLOAT) - b.max_lng, 0), 2),
                    b.zone_id) AS rn
  FROM un p CROSS JOIN boxes b
)
SELECT event_id, CAST(zone_id AS INTEGER) AS zone_id FROM d WHERE rn = 1
"""


def q39_resolve_join(spark, sf_dir):
    """J1 through covertable.resolve_via_join: the SAME resolve semantics as
    q11 (compiled cover, argmin zone_id, float32 half-open PIP), q11's
    assign probe with its kNN answers masked, reading the index file each
    Python worker maps once. Same oracle as q10/q11."""
    from .covertable import resolve_via_join

    cov = box_cover(spark, box_zones(spark, sf_dir))
    return resolve_via_join(pts_df(spark, sf_dir), cov).select("event_id", "zone_id")


def q40_knn_join(spark, sf_dir):
    """J2 through covertable: the points no box contains -> nearest zone, the
    kNN answers of the same index-file probe as q39
    (covertable.knn_via_join). Same oracle as q12."""
    from .covertable import knn_via_join

    cov = box_cover(spark, box_zones(spark, sf_dir))
    return knn_via_join(pts_df(spark, sf_dir), cov).select("event_id", "zone_id")


def _mutate_boxes(idx, zones):
    """The nation-box index ``idx`` (compiled from ``zones``) updated in
    place: zone 7 deleted, zone 12 replaced with a grown box, zone 100
    added. _MUTATED_BOXES_SQL is the same box table in SQL."""
    from .cells import add_zone, delete_zone, replace_zone

    old = {int(z.zone_id): z for z in zones}[12]
    la0 = old.ring_lat.min() - np.float32(6)
    la1 = old.ring_lat.max() + np.float32(4)
    lg0 = old.ring_lng.min() - np.float32(20)
    lg1 = old.ring_lng.max() + np.float32(6)
    grown = Zone(
        12, old.tzid,
        np.array([la0, la0, la1, la1], F32), np.array([lg0, lg1, lg1, lg0], F32),
    )
    added = Zone(
        100, "Test/Added",
        np.array([40, 40, 52, 52], F32), np.array([-170, -150, -150, -170], F32),
    )
    return add_zone(replace_zone(delete_zone(idx, 7), grown), added)


# _mutate_boxes' box table, over the original boxes as CTE ``boxes0``
_MUTATED_BOXES_SQL = """
  SELECT zone_id, tzid,
         CASE WHEN zone_id = 12 THEN min_lat - 6 ELSE min_lat END AS min_lat,
         CASE WHEN zone_id = 12 THEN max_lat + 4 ELSE max_lat END AS max_lat,
         CASE WHEN zone_id = 12 THEN min_lng - 20 ELSE min_lng END AS min_lng,
         CASE WHEN zone_id = 12 THEN max_lng + 6 ELSE max_lng END AS max_lng
  FROM boxes0 WHERE zone_id <> 7
  UNION ALL
  SELECT 100, 'Test/Added', 40.0, 52.0, -170.0, -150.0
"""


def q43_zone_update_resolve(spark, sf_dir):
    """R5/R6 (store Delete/Replace) + live append: resolve through an index
    updated IN PLACE — zone 7 deleted, zone 12 replaced with a grown box,
    new zone 100 added — via cells.delete_zone/replace_zone/add_zone (CSR
    splicing, byte-identical to a fresh compile over the updated zone list,
    tests/test_index_update.py). The other 23 zones' covers are never
    recomputed. Oracle: the same f32 containment argmin over the mutated
    box table expressed in SQL."""
    cov = box_cover(spark, box_zones(spark, sf_dir), mutated=True)
    p = with_contained_zone(pts_df(spark, sf_dir), assign_udf(cov))
    return p.select("event_id", "zone_id")


Q43_SQL = f"""
WITH pts AS ({PTS_SQL}), boxes0 AS ({BOXES_SQL}),
boxes AS ({_MUTATED_BOXES_SQL})
SELECT p.event_id,
       CAST(COALESCE(MIN(CASE WHEN {_CONTAIN_F32} THEN b.zone_id END), -1) AS INTEGER) AS zone_id
FROM pts p CROSS JOIN boxes b
GROUP BY p.event_id
"""


_CUTOVER = "2024-01-15 00:00:00"


def q89_versioned_resolve(spark, sf_dir):
    """Slowly-changing zone dimension (SCD2) resolve — the real-world tzdb
    problem: boundaries change over time (the reference re-downloads the
    GeoJSON per release, import.go:68-90), so an event must resolve
    against the zone VERSION valid at its timestamp. v0 = the original
    boxes; v1 = q43's mutated set (zone 7 deleted, 12 grown, 100 added),
    effective at the cutover. Implementation: one compiled cover per
    version, events sliced by event time, each slice probed with its
    epoch's index file, slices unioned — at 10^12 rows the time slice is a
    parquet partition-prune (events are date-partitioned), so each epoch's
    backfill scans only its own files and no row is probed twice."""
    zones = box_zones(spark, sf_dir)
    b0, b1 = box_cover(spark, zones), box_cover(spark, zones, mutated=True)
    p = pts_df(spark, sf_dir, with_user=True)
    cut = F.lit(_CUTOVER).cast("timestamp")
    out0 = with_contained_zone(p.where(F.col("ts") < cut), assign_udf(b0)).select(
        "event_id", F.lit("v0").alias("zone_version"), "zone_id"
    )
    out1 = with_contained_zone(p.where(F.col("ts") >= cut), assign_udf(b1)).select(
        "event_id", F.lit("v1").alias("zone_version"), "zone_id"
    )
    return out0.unionByName(out1).orderBy("event_id")


Q89_SQL = f"""
WITH pts AS (
SELECT event_id, ts,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
),
boxes0 AS ({BOXES_SQL}),
boxes1 AS ({_MUTATED_BOXES_SQL})
SELECT p.event_id, 'v0' AS zone_version,
       CAST(COALESCE(MIN(CASE WHEN {_CONTAIN_F32} THEN b.zone_id END), -1) AS INTEGER) AS zone_id
FROM pts p CROSS JOIN boxes0 b
WHERE p.ts < TIMESTAMP '{_CUTOVER}'
GROUP BY p.event_id
UNION ALL
SELECT p.event_id, 'v1' AS zone_version,
       CAST(COALESCE(MIN(CASE WHEN {_CONTAIN_F32} THEN b.zone_id END), -1) AS INTEGER) AS zone_id
FROM pts p CROSS JOIN boxes1 b
WHERE p.ts >= TIMESTAMP '{_CUTOVER}'
GROUP BY p.event_id
ORDER BY event_id
"""


def q28_frame_sample(spark, sf_dir):
    """Deterministic every-k-th sampling per group (the video frame-sample
    operator, imageops.frame_sample) demonstrated on events per user."""
    from .imageops import frame_sample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    # order by (ts, event_id) for a total order within each user
    ev = ev.withColumn("ord", F.struct(F.col("ts"), F.col("event_id")))
    return frame_sample(ev, "user_id", "ord", 3).select("event_id", "user_id")


Q28_SQL = """
WITH r AS (
  SELECT event_id, user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT event_id, user_id FROM r WHERE (rn - 1) % 3 = 0
"""


def q36_pricing_summary(spark, sf_dir):
    """Relational glue proof (TPC-H Q1 shape): multi-measure grouped
    aggregation over the biggest driver table with a date predicate —
    the kind of reporting query the engine's outputs feed into."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    f = li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return (
        f.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


Q36_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q52_multi_tenant_resolve(spark, sf_dir):
    """Multi-tenant lookup — the regime that MOTIVATES the join path: two
    zone sets (tenant 'a' = the nation boxes, tenant 'b' = the same boxes
    shifted +6 lat / +10 lng, all float32-exact) unioned into ONE
    tenant-keyed cover (CoverTables.union_tenants: one index file per
    tenant) and resolved for a mixed point stream in a single job — one
    probe splits each Arrow batch on the tenant column, so N tenants cost
    no shuffle and no broadcast.
    Oracle: per-tenant rectangle containment argmin + clamp-distance kNN
    over the tenant-unioned box table."""
    from .covertable import CoverTables, assign_via_join

    zones_a = box_zones(spark, sf_dir)
    zones_b = [
        Zone(
            z.zone_id, z.tzid,
            np.asarray(z.ring_lat, F32) + F32(6.0),
            np.asarray(z.ring_lng, F32) + F32(10.0),
        )
        for z in zones_a
    ]
    cov = CoverTables.union_tenants(
        spark,
        {
            "a": compile_cover(zones_a, base_res=3, max_res=7),
            "b": compile_cover(zones_b, base_res=3, max_res=7),
        },
    )
    p = pts_df(spark, sf_dir).withColumn(
        "tenant", F.when(F.col("event_id") % 2 == 0, "a").otherwise("b")
    )
    return assign_via_join(p, cov).select(
        "event_id", "tenant", "zone_id", "via_knn"
    )


Q52_SQL = f"""
WITH pts AS ({PTS_SQL}),
tp AS (
  SELECT p.*, CASE WHEN p.event_id % 2 = 0 THEN 'a' ELSE 'b' END AS tenant
  FROM pts p
),
boxes0 AS ({BOXES_SQL}),
boxes AS (
  SELECT 'a' AS tenant, zone_id, min_lat, min_lng, max_lat, max_lng FROM boxes0
  UNION ALL
  SELECT 'b', zone_id, min_lat + 6.0, min_lng + 10.0,
         max_lat + 6.0, max_lng + 10.0 FROM boxes0
),
res AS (
  SELECT p.event_id, p.tenant,
         MIN(CASE WHEN {_CONTAIN_F32} THEN b.zone_id END) AS rz
  FROM tp p JOIN boxes b ON b.tenant = p.tenant
  GROUP BY p.event_id, p.tenant
),
knn AS (
  SELECT p.event_id, b.zone_id,
         ROW_NUMBER() OVER (
           PARTITION BY p.event_id
           ORDER BY POWER(GREATEST(b.min_lat - CAST(p.lat AS FLOAT), CAST(p.lat AS FLOAT) - b.max_lat, 0), 2)
                  + POWER(GREATEST(b.min_lng - CAST(p.lng AS FLOAT), CAST(p.lng AS FLOAT) - b.max_lng, 0), 2),
                    b.zone_id) AS rn
  FROM (SELECT t.event_id, t.tenant, t.lat, t.lng
        FROM tp t JOIN res r ON r.event_id = t.event_id WHERE r.rz IS NULL) p
  JOIN boxes b ON b.tenant = p.tenant
)
SELECT r.event_id, r.tenant,
       CAST(COALESCE(r.rz, k.zone_id) AS INTEGER) AS zone_id,
       r.rz IS NULL AS via_knn
FROM res r
LEFT JOIN (SELECT event_id, zone_id FROM knn WHERE rn = 1) k USING (event_id)
"""


def q53_radius_join(spark, sf_dir):
    """Distance-bounded spatial join (covertable.radius_join): every
    (point, zone) pair with squared MBR clamp distance <= 4^2 degrees —
    the J2 nearest-zone operator relaxed from argmin to "all within r".
    Grid-blocked via sequence()+explode cell enumeration on BOTH sides
    meeting in a cell equi-join (complete: overlapping rectangles always
    share an enumerated cell), exact clamp-dist filter in float64 from
    float32 coords. Oracle: the brute-force cross join with the identical
    distance arithmetic."""
    from .covertable import radius_join

    p = pts_df(spark, sf_dir)
    z = boxes_df(spark, sf_dir)
    return radius_join(p, "event_id", z, radius=4.0, res=6).select(
        "event_id", "zone_id", F.round("dist2", 6).alias("dist2")
    )


_D2_SQL = (
    "(GREATEST(b.min_lat - CAST(p.lat AS FLOAT), CAST(p.lat AS FLOAT) - b.max_lat, 0)"
    " * GREATEST(b.min_lat - CAST(p.lat AS FLOAT), CAST(p.lat AS FLOAT) - b.max_lat, 0)"
    " + GREATEST(b.min_lng - CAST(p.lng AS FLOAT), CAST(p.lng AS FLOAT) - b.max_lng, 0)"
    " * GREATEST(b.min_lng - CAST(p.lng AS FLOAT), CAST(p.lng AS FLOAT) - b.max_lng, 0))"
)

Q53_SQL = f"""
WITH pts AS ({PTS_SQL}), boxes AS ({BOXES_SQL})
SELECT p.event_id, CAST(b.zone_id AS INTEGER) AS zone_id,
       ROUND({_D2_SQL}, 6) AS dist2
FROM pts p CROSS JOIN boxes b
WHERE {_D2_SQL} <= 16.0
"""


def q54_proximity_pairs(spark, sf_dir):
    """Spatial self-join (covertable.proximity_self_join): all unordered
    point pairs within 0.75 degrees — geo near-duplicate detection ("images
    taken at the same spot"). Asymmetric cell blocking: the left side
    enumerates its radius-rectangle cells, the right side sits in its one
    containing cell, so every true pair arises in exactly one cell (no
    dedup pass) and candidates stay points/cell x cells/rect, never N^2.
    Oracle: brute-force self cross join with identical f64-from-f32
    Euclidean arithmetic."""
    from .covertable import proximity_self_join

    p = pts_df(spark, sf_dir)
    return proximity_self_join(p, "event_id", radius=0.75, res=8).select(
        "id_a", "id_b", F.round("dist2", 6).alias("dist2")
    )


_PP_D2_SQL = (
    "((CAST(CAST(a.lat AS FLOAT) AS DOUBLE) - CAST(CAST(b.lat AS FLOAT) AS DOUBLE))"
    " * (CAST(CAST(a.lat AS FLOAT) AS DOUBLE) - CAST(CAST(b.lat AS FLOAT) AS DOUBLE))"
    " + (CAST(CAST(a.lng AS FLOAT) AS DOUBLE) - CAST(CAST(b.lng AS FLOAT) AS DOUBLE))"
    " * (CAST(CAST(a.lng AS FLOAT) AS DOUBLE) - CAST(CAST(b.lng AS FLOAT) AS DOUBLE)))"
)

Q54_SQL = f"""
WITH pts AS ({PTS_SQL})
SELECT a.event_id AS id_a, b.event_id AS id_b,
       ROUND({_PP_D2_SQL}, 6) AS dist2
FROM pts a JOIN pts b ON a.event_id < b.event_id
WHERE {_PP_D2_SQL} <= 0.5625
"""


# density clustering over the event points: eps-neighborhood degree from the
# cell-blocked proximity join, DBSCAN roles, clusters = connected components
_DBSCAN_EPS = 2.0
_DBSCAN_MINPTS = 4


def q57_geo_dbscan(spark, sf_dir):
    """DBSCAN over geo points, fully distributed: eps-pairs come from the
    cell-blocked ``proximity_self_join`` (never N^2), degrees from one
    groupBy, clusters from pointer-jumping connected components over
    core-core edges (O(log L) rounds), border points join their minimum
    core cluster. Convention (deterministic, order-free — classic DBSCAN
    assigns borders by scan order): core = >= minPts NEIGHBORS (self
    excluded), border = non-core with a core neighbor, assigned
    min(cluster_id); cluster_id = min event_id in the component; noise =
    -1. Scale shape: every stage is a keyed join/agg on bounded keys —
    dense-cell skew is ordinary join skew (AQE-splittable). Operator:
    covertable.geo_dbscan; planted-cluster pytest in tests/test_dbscan.py."""
    from .covertable import geo_dbscan

    return geo_dbscan(
        pts_df(spark, sf_dir),
        "event_id",
        eps=_DBSCAN_EPS,
        min_pts=_DBSCAN_MINPTS,
        res=7,
    )


Q57_SQL = f"""
WITH RECURSIVE pts AS ({PTS_SQL}),
pairs AS MATERIALIZED (
  -- banded range prefilter (slack 0.001 >> any float32-truncation delta at
  -- these magnitudes) so DuckDB plans an IEJoin instead of the 10^8-pair
  -- nested loop, MATERIALIZED so the 3 consumers share one evaluation;
  -- the exact float32-arithmetic predicate still decides
  SELECT a.event_id AS id_a, b.event_id AS id_b
  FROM pts a JOIN pts b
    ON a.event_id <> b.event_id
   AND a.lat BETWEEN b.lat - {_DBSCAN_EPS + 0.001} AND b.lat + {_DBSCAN_EPS + 0.001}
   AND a.lng BETWEEN b.lng - {_DBSCAN_EPS + 0.001} AND b.lng + {_DBSCAN_EPS + 0.001}
  WHERE {_PP_D2_SQL} <= {_DBSCAN_EPS * _DBSCAN_EPS}
),
deg AS (SELECT id_a, COUNT(*) AS deg FROM pairs GROUP BY 1),
cores AS (SELECT id_a AS event_id FROM deg WHERE deg >= {_DBSCAN_MINPTS}),
ce AS (
  SELECT p.id_a AS src, p.id_b AS dst FROM pairs p
  JOIN cores ca ON ca.event_id = p.id_a
  JOIN cores cb ON cb.event_id = p.id_b
),
reach(src, dst) AS (
  SELECT src, dst FROM ce
  UNION
  SELECT r.src, e.dst FROM reach r JOIN ce e ON r.dst = e.src
),
lab AS (SELECT src AS event_id, LEAST(src, MIN(dst)) AS canon FROM reach GROUP BY src),
core_lab AS MATERIALIZED (
  SELECT c.event_id, COALESCE(l.canon, c.event_id) AS cluster_id
  FROM cores c LEFT JOIN lab l USING (event_id)
),
border AS (
  SELECT p.id_a AS event_id, MIN(cl.cluster_id) AS cluster_id
  FROM pairs p
  JOIN core_lab cl ON cl.event_id = p.id_b
  LEFT JOIN cores c ON c.event_id = p.id_a
  WHERE c.event_id IS NULL
  GROUP BY 1
),
asg AS (
  SELECT event_id, 'core' AS role, cluster_id FROM core_lab
  UNION ALL
  SELECT event_id, 'border' AS role, cluster_id FROM border
)
SELECT p.event_id, COALESCE(a.role, 'noise') AS role,
       CAST(COALESCE(a.cluster_id, -1) AS BIGINT) AS cluster_id
FROM pts p LEFT JOIN asg a USING (event_id)
"""


def q58_user_displacement(spark, sf_dir):
    """Per-user trajectory summary: order each user's events by (ts,
    event_id), step distance = Euclidean between consecutive points, roll
    up total/max displacement and step count. Pure window + agg — one
    Exchange on user_id feeds LAG, the rollup reuses the same partitioning
    (geo analytics flavor: 'how far did this device move today')."""
    from pyspark.sql import Window as W

    p = pts_df(spark, sf_dir, with_user=True)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = p.select(
        "user_id",
        (F.col("lat") - F.lag("lat").over(w)).alias("dlat"),
        (F.col("lng") - F.lag("lng").over(w)).alias("dlng"),
    ).withColumn(
        "step",
        F.sqrt(F.col("dlat") * F.col("dlat") + F.col("dlng") * F.col("dlng")),
    )
    return d.groupBy("user_id").agg(
        F.count("step").cast("int").alias("n_steps"),
        F.round(F.coalesce(F.sum("step"), F.lit(0.0)), 6).alias("total_dist"),
        F.round(F.coalesce(F.max("step"), F.lit(0.0)), 6).alias("max_step"),
    )


Q58_SQL = f"""
WITH pts AS (
SELECT event_id, ts, user_id,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
),
st AS (
  SELECT user_id,
         lat - LAG(lat) OVER w AS dlat,
         lng - LAG(lng) OVER w AS dlng
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
stepped AS (
  SELECT user_id, SQRT(dlat * dlat + dlng * dlng) AS step FROM st
)
SELECT user_id,
       CAST(COUNT(step) AS INTEGER) AS n_steps,
       ROUND(COALESCE(SUM(step), 0.0), 6) AS total_dist,
       ROUND(COALESCE(MAX(step), 0.0), 6) AS max_step
FROM stepped
GROUP BY user_id
"""


_HLL_P = 4  # 2^p registers; demo-sized so sf0.01 tiles exercise BOTH the
# raw-HLL and linear-counting branches. Scale deployments use p=12-14: the
# register table is (tiles x 2^p) rows of two ints regardless of input size,
# and the max-rank agg is map-side combinable, so the shuffle carries only
# per-(tile,bucket) partials — the sketch's whole point at 100 TB.
_HLL_M = 1 << _HLL_P


def q59_hll_tile_users(spark, sf_dir):
    """Per-tile approximate distinct users via an own HyperLogLog sketch,
    pure relational (zero UDFs): md5(user_id) supplies 64 deterministic
    hash bits in both engines; bucket = top p bits, rank = leading-zero
    count of the remaining 56 bits (exact via length(bin(w)));
    registers = groupBy(tile, bucket).max(rank); the harmonic-mean
    denominator is summed as EXACT decimal(38,0) integers (every term is
    2^(64-rank)) so cross-engine float summation order cannot perturb the
    estimate; the only float ops are one division and (on the small-range
    branch) one ln, both bit-identical given exact integer inputs.
    Exact countDistinct rides along as the accuracy comparator."""
    p = pts_df(spark, sf_dir, with_user=True)
    base = p.select(
        cell_id_col(F.col("lat"), F.col("lng"), 2).alias("cell_id"),
        "user_id",
        F.md5(F.col("user_id").cast("string").cast("binary")).alias("h"),
    )
    hashed = base.select(
        "cell_id",
        "user_id",
        F.conv(F.substring("h", 1, 1), 16, 10).cast("int").alias("bucket"),
        F.conv(F.substring("h", 2, 14), 16, 10).cast("bigint").alias("w"),
    ).withColumn(
        "rank",
        F.when(F.col("w") == 0, F.lit(57)).otherwise(
            F.lit(57) - F.length(F.bin(F.col("w")))
        ),
    )
    reg = hashed.groupBy("cell_id", "bucket").agg(F.max("rank").alias("r"))
    # 2^64 exceeds py4j's long transport -> ship as string, cast to decimal
    two64 = F.lit("18446744073709551616").cast("decimal(38,0)")
    hll = reg.groupBy("cell_id").agg(
        F.count("*").cast("int").alias("used"),
        F.sum(F.pow(F.lit(2.0), F.lit(64) - F.col("r")).cast("decimal(38,0)")).alias("s_obs"),
    )
    m = float(_HLL_M)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = (F.col("s_obs") + (F.lit(_HLL_M) - F.col("used")).cast("decimal(38,0)") * two64).cast("double")
    raw = F.lit(alpha * m * m * 2.0**64) / num
    v = F.lit(_HLL_M) - F.col("used")
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0), F.lit(m) * F.log(F.lit(m) / v)).otherwise(raw)
    hll = hll.select("cell_id", "used", F.round(est, 4).alias("hll_est"))
    exact = base.groupBy("cell_id").agg(
        F.countDistinct("user_id").cast("int").alias("n_exact")
    )
    return hll.join(exact, "cell_id").select("cell_id", "used", "hll_est", "n_exact")


def _q59_sql() -> str:
    hexd = "0123456789abcdef"
    # CAST each place value to BIGINT: bare literals fold as DECIMAL(18)
    # and the term sum overflows that type (max |w| < 2^56 fits BIGINT)
    w_terms = " + ".join(
        f"(strpos('{hexd}', substr(h, {1 + i}, 1)) - 1)"
        f" * CAST({16 ** (14 - i)} AS BIGINT)"
        for i in range(1, 15)
    )
    m = float(_HLL_M)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # the SAME Python-folded double the Spark side ships via F.lit — and
    # CAST from string, because DuckDB types bare decimal literals as
    # DECIMAL(p,s) whose multiplication overflows at p=18
    scale = alpha * m * m * 2.0**64
    return f"""
WITH pts AS (
SELECT user_id,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
),
base AS (
  SELECT {cell_id_sql('lat', 'lng', 2)} AS cell_id, user_id,
         md5(CAST(user_id AS VARCHAR)) AS h
  FROM pts
),
hashed AS (
  SELECT cell_id, user_id,
         strpos('{hexd}', substr(h, 1, 1)) - 1 AS bucket,
         CAST({w_terms} AS BIGINT) AS w
  FROM base
),
ranked AS (
  SELECT cell_id, bucket,
         CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END AS rank
  FROM hashed
),
reg AS (
  SELECT cell_id, bucket, MAX(rank) AS r FROM ranked GROUP BY 1, 2
),
hll AS (
  SELECT cell_id, CAST(COUNT(*) AS INTEGER) AS used,
         SUM(CAST(POWER(2, 64 - r) AS HUGEINT)) AS s_obs
  FROM reg GROUP BY 1
),
est AS (
  SELECT cell_id, used,
         CAST('{scale!r}' AS DOUBLE)
           / CAST(s_obs + CAST({_HLL_M} - used AS HUGEINT)
                          * CAST('18446744073709551616' AS HUGEINT) AS DOUBLE)
           AS raw
  FROM hll
),
fin AS (
  SELECT cell_id, used,
         ROUND(CASE WHEN raw <= {2.5 * m!r} AND used < {_HLL_M}
                    THEN CAST({m!r} AS DOUBLE)
                         * ln(CAST({m!r} AS DOUBLE) / ({_HLL_M} - used))
                    ELSE raw END, 4) AS hll_est
  FROM est
),
exact AS (
  SELECT cell_id, CAST(COUNT(DISTINCT user_id) AS INTEGER) AS n_exact
  FROM base GROUP BY 1
)
SELECT f.cell_id, f.used, f.hll_est, e.n_exact
FROM fin f JOIN exact e USING (cell_id)
"""


Q59_SQL = _q59_sql()


_PR_N = 150  # user graph nodes (events user_id domain)
_PR_D = 0.85
_PR_ITERS = 5
# Python-fold every float constant ONCE and inject the identical double into
# both engines (DuckDB types bare decimal literals as DECIMAL, q59 lesson)
_PR_BASE = (1.0 - _PR_D) / _PR_N
_PR_INVN = 1.0 / _PR_N


def q62_pagerank(spark, sf_dir):
    """Damped PageRank, 5 unrolled iterations, over the deterministic user
    graph src=user_id -> dst=(event_id*13 + user_id*7) % 150 (distinct,
    no self-loops). The iterative-algorithm representative: each round is
    one edge-join + per-dst sum + dangling-mass scalar, exactly the CC
    pattern (min_label_cc) with sums instead of mins — at scale each round
    is checkpointed the same way. Cross-engine determinism: per-iteration
    ranks round to 12 decimals (sum order ulps are ~1e-19 here), all float
    constants Python-folded once and injected into both engines."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    edges = (
        ev.select(
            F.col("user_id").alias("src"),
            ((F.col("event_id") * 13 + F.col("user_id") * 7) % _PR_N).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = ev.select(F.col("user_id")).distinct()
    r = nodes.withColumn("rank", F.lit(_PR_INVN))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(r.withColumnRenamed("user_id", "src"), "src")
            .join(outdeg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            .withColumnRenamed("dst", "user_id")
        )
        dangling = (
            r.join(outdeg.withColumnRenamed("src", "user_id"), "user_id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        r = (
            nodes.join(contrib, "user_id", "left")
            .join(F.broadcast(dangling), F.lit(True))
            .select(
                "user_id",
                F.round(
                    F.lit(_PR_BASE)
                    + F.lit(_PR_D)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0))
                       + F.col("dm") * F.lit(_PR_INVN)),
                    12,
                ).alias("rank"),
            )
        )
    return r.select("user_id", F.round("rank", 9).alias("pagerank"))


def _q62_sql() -> str:
    base, d, invn = _PR_BASE, _PR_D, _PR_INVN
    parts = [
        f"""edges AS (
  SELECT DISTINCT user_id AS src, (event_id * 13 + user_id * 7) % {_PR_N} AS dst
  FROM events WHERE user_id != (event_id * 13 + user_id * 7) % {_PR_N}
),
outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT user_id FROM events),
r0 AS (SELECT user_id, CAST('{invn!r}' AS DOUBLE) AS rank FROM nodes)"""
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(f"""c{i} AS (
  SELECT e.dst AS user_id, SUM(r.rank / o.deg) AS contrib
  FROM edges e JOIN r{i - 1} r ON e.src = r.user_id JOIN outdeg o ON e.src = o.src
  GROUP BY 1
),
d{i} AS (
  SELECT COALESCE(SUM(r.rank), 0.0) AS dm
  FROM r{i - 1} r LEFT JOIN outdeg o ON r.user_id = o.src WHERE o.src IS NULL
),
r{i} AS (
  SELECT n.user_id,
         ROUND(CAST('{base!r}' AS DOUBLE)
               + CAST('{d!r}' AS DOUBLE)
                 * (COALESCE(c.contrib, 0.0) + dd.dm * CAST('{invn!r}' AS DOUBLE)),
               12) AS rank
  FROM nodes n LEFT JOIN c{i} c USING (user_id) CROSS JOIN d{i} dd
)""")
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT user_id, ROUND(rank, 9) AS pagerank FROM r{_PR_ITERS}
"""


Q62_SQL = _q62_sql()



# ---------------------------------------------------------------------------
# q64: per-zone planar geometry statistics (shoelace area / perimeter /
# area-weighted centroid), zero UDFs, zero pre-agg shuffle
# ---------------------------------------------------------------------------

_EDGE_FOLDS = {
    # signed shoelace over the cyclic edge list, x = lng, y = lat
    "area_signed": "0.5D * aggregate(edges, CAST(0 AS DOUBLE),"
    " (acc, e) -> acc + e.alng * e.blat - e.blng * e.alat)",
    "perimeter": "aggregate(edges, CAST(0 AS DOUBLE), (acc, e) -> acc +"
    " sqrt((e.blat - e.alat) * (e.blat - e.alat)"
    " + (e.blng - e.alng) * (e.blng - e.alng)))",
    "sx": "aggregate(edges, CAST(0 AS DOUBLE), (acc, e) -> acc +"
    " (e.alng + e.blng) * (e.alng * e.blat - e.blng * e.alat))",
    "sy": "aggregate(edges, CAST(0 AS DOUBLE), (acc, e) -> acc +"
    " (e.alat + e.blat) * (e.alng * e.blat - e.blng * e.alat))",
}


def zone_geometry(zone_table) -> DataFrame:
    """Planar ring geometry per zone row, computed entirely JVM-side: each
    row folds its own vertex arrays with transform()/aggregate() higher-
    order expressions — no UDF, no explode, no shuffle — so the operator
    maps one-to-one over polygon rows at any scale (24k world polygons or
    10^8 parcels; Catalyst keeps it inside WholeStageCodegen). Edge order
    matches geom.ring_edges (closing edge first, polygon.go:104): a =
    v[i-1], b = v[i], f64 arithmetic over the f32 vertices. Signed area
    (orientation-preserving shoelace), perimeter, and the area-weighted
    centroid (NULL for degenerate zero-area rings, e.g. the <3-vertex
    quirk ring polygon.go:101-103)."""
    edges = (
        "transform(sequence(1, size(lats)), k -> named_struct("
        " 'alat', CAST(element_at(lats, IF(k = 1, size(lats), k - 1)) AS DOUBLE),"
        " 'alng', CAST(element_at(lngs, IF(k = 1, size(lats), k - 1)) AS DOUBLE),"
        " 'blat', CAST(element_at(lats, k) AS DOUBLE),"
        " 'blng', CAST(element_at(lngs, k) AS DOUBLE)))"
    )
    z = zone_table.withColumn("edges", F.expr(edges))
    for name, fold in _EDGE_FOLDS.items():
        z = z.withColumn(name, F.expr(fold))
    return z.select(
        "zone_id",
        "tzid",
        F.size("lats").alias("n_vertices"),
        F.round("area_signed", 6).alias("area_signed"),
        F.round("perimeter", 6).alias("perimeter"),
        F.round(F.col("sy") / F.nullif(F.lit(6.0) * F.col("area_signed"), F.lit(0.0)), 6)
        .alias("centroid_lat"),
        F.round(F.col("sx") / F.nullif(F.lit(6.0) * F.col("area_signed"), F.lit(0.0)), 6)
        .alias("centroid_lng"),
    ).orderBy("zone_id")


def q64_zone_geometry(spark, sf_dir):
    """zone_geometry over the full synthetic zone set (concave L-shape,
    both hole-quirk encodings, 2k-vertex coastline, degenerate ring). The
    DuckDB oracle inlines every ring edge as f32-exact VALUES (same closing-
    edge-first order) and replays the identical f64 folds, so the whole
    relational machinery — not just the formula — is hash-gated."""
    from .zones import make_zones

    return zone_geometry(zone_table_df(spark, make_zones(n_coast=2000)))


def _q64_sql() -> str:
    from .geom import ring_edges
    from .zones import make_zones

    zones = make_zones(n_coast=2000)
    zone_rows, edge_rows = [], []
    for z in sorted(zones, key=lambda z: z.zone_id):
        zone_rows.append(
            f"({z.zone_id},'{z.tzid}',{len(z.ring_lat)})"
        )
        al, ag, bl, bg = ring_edges(z.ring_lat, z.ring_lng)
        for k in range(al.shape[0]):
            edge_rows.append(
                f"({z.zone_id},{float(al[k])!r},{float(ag[k])!r},"
                f"{float(bl[k])!r},{float(bg[k])!r})"
            )
    return f"""
WITH zones AS (
  SELECT * FROM (VALUES {",".join(zone_rows)}) t(zone_id, tzid, n_vertices)
),
e AS (
  SELECT zone_id, CAST(alat AS DOUBLE) AS alat, CAST(alng AS DOUBLE) AS alng,
         CAST(blat AS DOUBLE) AS blat, CAST(blng AS DOUBLE) AS blng
  FROM (VALUES {",".join(edge_rows)}) t(zone_id, alat, alng, blat, blng)
),
agg AS (
  SELECT zone_id,
         0.5 * SUM(alng * blat - blng * alat) AS area_signed,
         SUM(sqrt((blat - alat) * (blat - alat)
                  + (blng - alng) * (blng - alng))) AS perimeter,
         SUM((alng + blng) * (alng * blat - blng * alat)) AS sx,
         SUM((alat + blat) * (alng * blat - blng * alat)) AS sy
  FROM e GROUP BY zone_id
)
SELECT z.zone_id, z.tzid, z.n_vertices,
       ROUND(a.area_signed, 6) AS area_signed,
       ROUND(a.perimeter, 6) AS perimeter,
       ROUND(a.sy / NULLIF(6 * a.area_signed, 0), 6) AS centroid_lat,
       ROUND(a.sx / NULLIF(6 * a.area_signed, 0), 6) AS centroid_lng
FROM zones z JOIN agg a USING (zone_id)
ORDER BY z.zone_id
"""



def q65_zone_transitions(spark, sf_dir):
    """Geofence transition detection (trajectory enter/exit): every event
    point is assigned its zone by the engine's compiled-cover probe (the
    q11 kernel; -1 = no zone), each user's events are ordered by (ts,
    event_id), and one row is emitted per zone CHANGE — from_zone ->
    to_zone at the crossing event. Scale shape: the assignment is narrow
    (cover probe, zero shuffle), the LAG needs exactly ONE
    Exchange on user_id, and the change filter is partition-local — the
    same plan at 10^12 rows. The first event per user is not a transition
    (prev IS NULL)."""
    from pyspark.sql import Window as W

    cov = box_cover(spark, box_zones(spark, sf_dir))
    a = with_contained_zone(pts_df(spark, sf_dir, with_user=True), assign_udf(cov))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = a.select(
        "user_id",
        "event_id",
        "zone_id",
        F.lag("zone_id").over(w).alias("prev_zone"),
    )
    return (
        t.where(F.col("prev_zone").isNotNull() & (F.col("prev_zone") != F.col("zone_id")))
        .select(
            "user_id",
            "event_id",
            F.col("prev_zone").cast("int").alias("from_zone"),
            F.col("zone_id").cast("int").alias("to_zone"),
        )
        .orderBy("user_id", "event_id")
    )


Q65_SQL = f"""
WITH pts AS (
SELECT event_id, ts, user_id,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
),
boxes AS ({BOXES_SQL}),
az AS (
  SELECT p.event_id, p.ts, p.user_id,
         CAST(COALESCE(MIN(CASE WHEN {_CONTAIN_F32} THEN b.zone_id END), -1)
              AS INTEGER) AS zone_id
  FROM pts p CROSS JOIN boxes b
  GROUP BY p.event_id, p.ts, p.user_id
),
tr AS (
  SELECT user_id, event_id, zone_id,
         LAG(zone_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_zone
  FROM az
)
SELECT user_id, event_id,
       CAST(prev_zone AS INTEGER) AS from_zone,
       CAST(zone_id AS INTEGER) AS to_zone
FROM tr
WHERE prev_zone IS NOT NULL AND prev_zone <> zone_id
ORDER BY user_id, event_id
"""



def q66_focal_tile_stats(spark, sf_dir):
    """Raster focal (3x3 k-ring) aggregation — the tile-raster convolution:
    per-cell event stats are spread to the 9-cell neighborhood and
    re-aggregated, giving every cell the smoothed occupancy of its window.
    Scale shape: points collapse to tiles FIRST (one shuffle, map-side
    combinable), the 9x explode runs over tiles (orders of magnitude
    smaller than points), and the focal re-agg is a second tiny shuffle —
    the standard distributed raster convolution. All-integer arithmetic
    (counts + exact bigint sums), so the oracle comparison is exact."""
    RES = 5
    n = 1 << RES
    p = pts_df(spark, sf_dir, with_user=True)
    t = (
        p.withColumn("cell", cell_id_col(F.col("lat"), F.col("lng"), RES))
        .groupBy("cell")
        .agg(F.count("*").alias("n_ev"), F.sum("user_id").alias("s_uid"))
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
            for dr in (-1, 0, 1)
            for dc in (-1, 0, 1)
        ]
    )
    nb = (
        t.select(
            F.expr(f"cell DIV {n}").alias("row"),
            (F.col("cell") % n).alias("col"),
            "n_ev",
            "s_uid",
            F.explode(offsets).alias("o"),
        )
        .select(
            (F.col("row") + F.col("o.dr")).alias("nr"),
            (F.col("col") + F.col("o.dc")).alias("nc"),
            "n_ev",
            "s_uid",
        )
        .where(
            (F.col("nr") >= 0) & (F.col("nr") < n)
            & (F.col("nc") >= 0) & (F.col("nc") < n)
        )
    )
    return (
        nb.groupBy((F.col("nr") * n + F.col("nc")).alias("cell_id"))
        .agg(
            F.sum("n_ev").alias("focal_n_events"),
            F.sum("s_uid").alias("focal_sum_user"),
            F.count("*").cast("int").alias("n_tiles"),
        )
        .orderBy("cell_id")
    )


def _q66_sql() -> str:
    n = 1 << 5
    cell = cell_id_sql("lat", "lng", 5)
    return f"""
WITH pts AS (
SELECT event_id, user_id,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
),
t AS (
  SELECT {cell} AS cell, COUNT(*) AS n_ev, SUM(user_id) AS s_uid
  FROM pts GROUP BY 1
),
o AS (
  SELECT a.dr, b.dc
  FROM (VALUES (-1), (0), (1)) a(dr) CROSS JOIN (VALUES (-1), (0), (1)) b(dc)
),
nb AS (
  SELECT (t.cell // {n}) + o.dr AS nr, (t.cell % {n}) + o.dc AS nc,
         t.n_ev, t.s_uid
  FROM t CROSS JOIN o
)
SELECT nr * {n} + nc AS cell_id,
       CAST(SUM(n_ev) AS BIGINT) AS focal_n_events,
       CAST(SUM(s_uid) AS BIGINT) AS focal_sum_user,
       CAST(COUNT(*) AS INTEGER) AS n_tiles
FROM nb
WHERE nr BETWEEN 0 AND {n - 1} AND nc BETWEEN 0 AND {n - 1}
GROUP BY 1
ORDER BY 1
"""



_Q67_RES = 6


def _q67_zones():
    """Simple (non-self-intersecting, >=3 vertex) rings only: Sutherland-
    Hodgman's area-conservation argument needs a simple subject; the HoleB
    concatenated-ring quirk is even-odd territory (handled by the PIP
    kernel, not the clipper) and the degenerate ring has no area."""
    from .zones import make_zones

    return [
        z for z in make_zones(n_coast=500)
        if len(z.ring_lat) >= 3 and z.tzid != "Test/HoleB"
    ]


def q67_clip_conservation(spark, sf_dir):
    """Boundary-fragment clipping (the north_star's "boundary cells
    carrying clipped polygon fragments") under the value gate: every
    simple zone ring is clipped to each res-{RES} cell overlapping its
    bbox (geom.clip_ring_rect, Sutherland-Hodgman in f64 over the f32
    vertices), fragment signed areas are summed per zone, and the total
    must equal the UNCLIPPED shoelace area — which is what the DuckDB
    oracle computes from the inlined ring edges. Cells tile the plane
    half-open, so conservation is exact up to f64 rounding; a clipper bug
    (dropped fragment, wrong intersection, double-counted cell)
    hash-mismatches. Scale shape: the (zone x overlapping-cell) pair list
    is built JVM-side with sequence()/explode over zone rows, fragments
    never materialize — mapInPandas folds each pair to a partial area sum
    in-batch and ONE final shuffle aggregates per zone. (At world scale
    the geometry rides once per partition via the shipped cover rather
    than per pair row — same fold.)"""
    from .cells import cell_bounds
    from .geom import clip_ring_rect, ring_area_signed

    RES = _Q67_RES
    zt = zone_table_df(spark, _q67_zones())
    pairs = (
        explode_rect_cells(
            zt, F.col("min_lat"), F.col("max_lat"), F.col("min_lng"),
            F.col("max_lng"), RES,
        )
        .select("zone_id", "tzid", "lats", "lngs", "_cell")
        .repartition(8, "zone_id", "_cell")
    )

    out_schema = "zone_id int, tzid string, partial double"

    def fold(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            acc = {}
            for zid, tzid, lats, lngs, cell in zip(
                pdf["zone_id"], pdf["tzid"], pdf["lats"], pdf["lngs"], pdf["_cell"]
            ):
                crow, ccol = divmod(int(cell), 1 << RES)
                lat0, lng0, lat1, lng1 = cell_bounds(crow, ccol, RES)
                fy, fx = clip_ring_rect(lats, lngs, lat0, lng0, lat1, lng1)
                a = ring_area_signed(fy, fx)
                k = (int(zid), tzid)
                acc[k] = acc.get(k, 0.0) + a
            yield pd.DataFrame(
                [(z, t, a) for (z, t), a in acc.items()],
                columns=["zone_id", "tzid", "partial"],
            )

    frags = pairs.mapInPandas(fold, out_schema)
    return (
        frags.groupBy("zone_id", "tzid")
        .agg(F.round(F.sum("partial"), 6).alias("area_signed"))
        .orderBy("zone_id")
    )


def _q67_sql() -> str:
    from .geom import ring_edges

    zone_rows, edge_rows = [], []
    for z in _q67_zones():
        zone_rows.append(f"({z.zone_id},'{z.tzid}')")
        al, ag, bl, bg = ring_edges(z.ring_lat, z.ring_lng)
        for k in range(al.shape[0]):
            edge_rows.append(
                f"({z.zone_id},{float(al[k])!r},{float(ag[k])!r},"
                f"{float(bl[k])!r},{float(bg[k])!r})"
            )
    return f"""
WITH zones AS (
  SELECT * FROM (VALUES {",".join(zone_rows)}) t(zone_id, tzid)
),
e AS (
  SELECT zone_id, CAST(alat AS DOUBLE) AS alat, CAST(alng AS DOUBLE) AS alng,
         CAST(blat AS DOUBLE) AS blat, CAST(blng AS DOUBLE) AS blng
  FROM (VALUES {",".join(edge_rows)}) t(zone_id, alat, alng, blat, blng)
),
agg AS (
  SELECT zone_id, 0.5 * SUM(alng * blat - blng * alat) AS area
  FROM e GROUP BY zone_id
)
SELECT z.zone_id, z.tzid, ROUND(a.area, 6) AS area_signed
FROM zones z JOIN agg a USING (zone_id)
ORDER BY z.zone_id
"""



_IDW_R = 6.0
_IDW_EPS = 1e-9
_IDW_PROBE_MOD = 389


def q68_idw_interpolation(spark, sf_dir):
    """Inverse-distance-weighted spatial interpolation, leave-one-out: a
    deterministic probe subset of the event points predicts its own
    ``value`` from every OTHER event within _IDW_R degrees, weighted
    1/(dist2 + eps). Pairs come from covertable.point_pairs_within — the
    asymmetric cell-blocked two-set radius join (probe rectangles x site
    single cells, complete and duplicate-free, never |probes| x |sites|) —
    then ONE groupBy folds the weighted sums. Scale shape: identical to
    every cover probe (cell-id equi-join + keyed agg); the DuckDB oracle
    recomputes it by brute-force cross join."""
    from .covertable import point_pairs_within

    p = pts_df(spark, sf_dir, with_user=False)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "value")
    sites = p.join(ev, "event_id").select(
        F.col("event_id").alias("site_id"), "lat", "lng", "value"
    )
    probes = (
        p.where(F.col("event_id") % _IDW_PROBE_MOD == 0)
        .select(F.col("event_id").alias("probe_id"), "lat", "lng")
    )
    pairs = point_pairs_within(
        probes, "probe_id", sites, "site_id", radius=_IDW_R, res=6,
        carry_cols=["value"],
    ).where(F.col("probe_id") != F.col("site_id"))
    w = F.lit(1.0) / (F.col("dist2") + F.lit(_IDW_EPS))
    return (
        pairs.groupBy("probe_id")
        .agg(
            F.count("*").cast("int").alias("n_sites"),
            F.round(F.sum(w * F.col("value")) / F.sum(w), 6).alias("idw_value"),
        )
        .orderBy("probe_id")
    )


Q68_SQL = f"""
WITH pts AS ({{PTS}}),
sites AS (
  SELECT p.event_id AS site_id, p.lat, p.lng, e.value
  FROM pts p JOIN events e USING (event_id)
),
probes AS (
  SELECT event_id AS probe_id, lat, lng FROM pts
  WHERE event_id % {_IDW_PROBE_MOD} = 0
),
pairs AS (
  SELECT a.probe_id, b.site_id, {{D2}} AS dist2, b.value
  FROM probes a CROSS JOIN sites b
  WHERE {{D2}} <= {_IDW_R * _IDW_R!r} AND a.probe_id <> b.site_id
)
SELECT probe_id,
       CAST(COUNT(*) AS INTEGER) AS n_sites,
       ROUND(SUM(value / (dist2 + {_IDW_EPS!r}))
             / SUM(1.0 / (dist2 + {_IDW_EPS!r})), 6) AS idw_value
FROM pairs
GROUP BY probe_id
ORDER BY probe_id
"""


_PYR_RES = 8


def q70_tile_pyramid(spark, sf_dir):
    """Multi-resolution tile-pyramid rollup (the map-tile pre-aggregation).

    Points shuffle ONCE — into their finest-resolution (res 8) cells with
    map-side-combinable count/sum partials. Every coarser level then
    aggregates the PREVIOUS LEVEL's output (pure integer parent-cell
    arithmetic: row>>1, col>>1), so levels 7..0 together touch at most
    ~4/3 of the base-level tile count — the standard pyramid build that
    serves any zoom level without rescanning points. At 100 TB the base
    agg is the only point-scale job; the rollup chain is kilobytes.
    All-integer outputs, so the oracle match is exact."""
    p = pts_df(spark, sf_dir, with_user=True)
    cur = (
        p.withColumn("cell", cell_id_col(F.col("lat"), F.col("lng"), _PYR_RES))
        .groupBy("cell")
        .agg(F.count("*").alias("n_events"), F.sum("user_id").alias("sum_user"))
    )
    out = cur.select(
        F.lit(_PYR_RES).cast("int").alias("res"),
        F.col("cell").alias("cell_id"),
        "n_events",
        "sum_user",
    )
    for r in range(_PYR_RES - 1, -1, -1):
        n_child = 1 << (r + 1)
        parent = (F.expr(f"cell DIV {n_child}") / 2).cast("long") * (1 << r) + (
            (F.col("cell") % n_child) / 2
        ).cast("long")
        cur = (
            cur.select(parent.alias("cell"), "n_events", "sum_user")
            .groupBy("cell")
            .agg(F.sum("n_events").alias("n_events"), F.sum("sum_user").alias("sum_user"))
        )
        out = out.unionByName(
            cur.select(
                F.lit(r).cast("int").alias("res"),
                F.col("cell").alias("cell_id"),
                "n_events",
                "sum_user",
            )
        )
    return out.orderBy("res", "cell_id")


def _q70_sql() -> str:
    cell = cell_id_sql("lat", "lng", _PYR_RES)
    ctes = [
        f"l{_PYR_RES} AS (SELECT {cell} AS cell, COUNT(*) AS n_events,"
        f" CAST(SUM(user_id) AS BIGINT) AS sum_user FROM pts GROUP BY 1)"
    ]
    for r in range(_PYR_RES - 1, -1, -1):
        n_child = 1 << (r + 1)
        parent = f"((cell // {n_child}) // 2) * {1 << r} + ((cell % {n_child}) // 2)"
        ctes.append(
            f"l{r} AS (SELECT {parent} AS cell,"
            f" CAST(SUM(n_events) AS BIGINT) AS n_events,"
            f" CAST(SUM(sum_user) AS BIGINT) AS sum_user FROM l{r + 1} GROUP BY 1)"
        )
    levels = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS res, cell AS cell_id, n_events,"
        f" sum_user FROM l{r}"
        for r in range(_PYR_RES, -1, -1)
    )
    joined = ",\n".join(ctes)
    return f"""
WITH pts AS (
SELECT event_id, user_id,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
),
{joined}
SELECT * FROM (
{levels}
) ORDER BY res, cell_id
"""


_COLOC_R = 14.0
_COLOC_T = 3600  # seconds


def q72_colocation(spark, sf_dir):
    """Spatiotemporal co-location detection (contact tracing / co-occurrence):
    pairs of events from DIFFERENT users within _COLOC_R degrees AND
    _COLOC_T seconds. covertable.colocation_pairs blocks on (grid cell,
    time bucket) with the asymmetric rectangle-x-single-key scheme, so
    every qualifying pair arises in exactly one composite key — complete,
    duplicate-free, never |N|^2 — and the exact predicates (f64-from-f32
    Euclidean, integer-microsecond window) run identically in the DuckDB
    brute-force cross-join oracle."""
    from .covertable import colocation_pairs

    p = pts_df(spark, sf_dir, with_user=True)
    return (
        colocation_pairs(
            p, "event_id", "user_id", "ts", radius=_COLOC_R,
            window_s=_COLOC_T, res=4,
        )
        .select(
            "id_a", "id_b", "user_a", "user_b",
            F.round("dist2", 6).alias("dist2"), "dt_us",
        )
        .orderBy("id_a", "id_b")
    )


Q72_SQL = f"""
WITH pts AS (
SELECT event_id, user_id, epoch_us(ts) AS tus,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       a.user_id AS user_a, b.user_id AS user_b,
       ROUND({_PP_D2_SQL}, 6) AS dist2,
       abs(a.tus - b.tus) AS dt_us
FROM pts a JOIN pts b ON a.event_id < b.event_id
WHERE a.user_id <> b.user_id
  AND abs(a.tus - b.tus) <= CAST({_COLOC_T} AS BIGINT) * 1000000
  AND {_PP_D2_SQL} <= {_COLOC_R * _COLOC_R!r}
ORDER BY id_a, id_b
"""


_EARTH_R_M = 6371008.8  # IUGG mean earth radius
_DEG2RAD = 0.017453292519943295  # math.pi / 180, Python-folded into both engines


def q73_haversine_displacement(spark, sf_dir):
    """q58's trajectory rollup upgraded to GEODESIC meters: step distance is
    the great-circle haversine (2R*asin(sqrt(a))) between consecutive
    events per user — all JVM-side column arithmetic, same one-Exchange
    window shape as q58. Float discipline: deg->rad constant Python-folded
    to an identical literal in both engines, a clamped to [0,1] before
    asin, and the meter outputs rounded to 0.1 m — JVM vs libm trig agrees
    to 1 ulp (~1e-9 m here), so decimeter rounding leaves ~7 orders of
    magnitude of safety margin."""
    from pyspark.sql import Window as W

    p = pts_df(spark, sf_dir, with_user=True)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    phi = (F.col("lat") * _DEG2RAD).alias("phi")
    lam = (F.col("lng") * _DEG2RAD).alias("lam")
    d = p.select("user_id", "ts", "event_id", phi, lam).select(
        "user_id",
        "phi",
        (F.col("phi") - F.lag("phi").over(w)).alias("dphi"),
        F.lag("phi").over(w).alias("phi0"),
        (F.col("lam") - F.lag("lam").over(w)).alias("dlam"),
    )
    sin_half_dphi = F.sin(F.col("dphi") / 2)
    sin_half_dlam = F.sin(F.col("dlam") / 2)
    a = F.least(
        sin_half_dphi * sin_half_dphi
        + F.cos(F.col("phi")) * F.cos(F.col("phi0")) * sin_half_dlam * sin_half_dlam,
        F.lit(1.0),
    )
    step = (F.asin(F.sqrt(a)) * (2 * _EARTH_R_M)).alias("step_m")
    return (
        d.select("user_id", step)
        .groupBy("user_id")
        .agg(
            F.count("step_m").cast("int").alias("n_steps"),
            F.round(F.coalesce(F.sum("step_m"), F.lit(0.0)), 1).alias("total_m"),
            F.round(F.coalesce(F.max("step_m"), F.lit(0.0)), 1).alias("max_step_m"),
        )
    )


Q73_SQL = f"""
WITH pts AS (
SELECT event_id, ts, user_id,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
),
rad AS (
  SELECT event_id, ts, user_id,
         lat * {_DEG2RAD!r} AS phi, lng * {_DEG2RAD!r} AS lam
  FROM pts
),
st AS (
  SELECT user_id, phi,
         phi - LAG(phi) OVER w AS dphi,
         LAG(phi) OVER w AS phi0,
         lam - LAG(lam) OVER w AS dlam
  FROM rad
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
stepped AS (
  SELECT user_id,
         asin(sqrt(LEAST(sin(dphi / 2) * sin(dphi / 2)
                         + cos(phi) * cos(phi0) * sin(dlam / 2) * sin(dlam / 2),
                         1.0))) * {2 * _EARTH_R_M!r} AS step_m
  FROM st
)
SELECT user_id,
       CAST(COUNT(step_m) AS INTEGER) AS n_steps,
       ROUND(COALESCE(SUM(step_m), 0.0), 1) AS total_m,
       ROUND(COALESCE(MAX(step_m), 0.0), 1) AS max_step_m
FROM stepped
GROUP BY user_id
"""


def q75_zone_dwell(spark, sf_dir):
    """Zone dwell-time analytics (stay segments): each user's trajectory
    splits into VISITS — maximal runs of consecutive events in the same
    zone — rolled up to enter/exit times, event count, and dwell duration.
    The visit id is the running sum of zone-change flags, computed in the
    SAME ordered window (one user_id Exchange) that feeds the LAG; the
    per-visit rollup reuses that partitioning, so the whole operator is
    one shuffle + a narrow cover probe. All outputs are exact
    integers (epoch microseconds), so the oracle match is exact."""
    from pyspark.sql import Window as W

    cov = box_cover(spark, box_zones(spark, sf_dir))
    epoch = F.to_timestamp(F.lit("1970-01-01 00:00:00"))
    a = with_contained_zone(pts_df(spark, sf_dir, with_user=True), assign_udf(cov))
    a = a.withColumn("tus", F.timestamp_diff("MICROSECOND", epoch, F.col("ts")))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("zone_id").over(w)
    t = a.select(
        "user_id",
        "event_id",
        "zone_id",
        "tus",
        "ts",
        F.when(prev.isNull() | (prev != F.col("zone_id")), 1)
        .otherwise(0)
        .alias("chg"),
    )
    v = t.withColumn("visit", F.sum("chg").over(w))
    return (
        v.groupBy("user_id", "visit")
        .agg(
            F.min("zone_id").cast("int").alias("zone_id"),
            F.count("*").cast("int").alias("n_events"),
            F.min("tus").alias("enter_us"),
            F.max("tus").alias("exit_us"),
            (F.max("tus") - F.min("tus")).alias("dwell_us"),
            F.min("event_id").alias("first_event_id"),
        )
        .select(
            "user_id",
            F.col("visit").cast("int").alias("visit"),
            "zone_id",
            "n_events",
            "enter_us",
            "exit_us",
            "dwell_us",
            "first_event_id",
        )
        .orderBy("user_id", "visit")
    )


Q75_SQL = f"""
WITH pts AS (
SELECT event_id, ts, user_id,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
),
boxes AS ({{BOXES}}),
az AS (
  SELECT p.event_id, p.ts, p.user_id, epoch_us(p.ts) AS tus,
         CAST(COALESCE(MIN(CASE WHEN {{CONTAIN}} THEN b.zone_id END), -1)
              AS INTEGER) AS zone_id
  FROM pts p CROSS JOIN boxes b
  GROUP BY p.event_id, p.ts, p.user_id
),
tr AS (
  SELECT *, CASE WHEN LAG(zone_id) OVER w IS NULL
                   OR LAG(zone_id) OVER w <> zone_id THEN 1 ELSE 0 END AS chg
  FROM az
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
vs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS visit
  FROM tr
)
SELECT user_id, CAST(visit AS INTEGER) AS visit,
       CAST(MIN(zone_id) AS INTEGER) AS zone_id,
       CAST(COUNT(*) AS INTEGER) AS n_events,
       MIN(tus) AS enter_us, MAX(tus) AS exit_us,
       MAX(tus) - MIN(tus) AS dwell_us,
       CAST(MIN(event_id) AS BIGINT) AS first_event_id
FROM vs
GROUP BY user_id, visit
ORDER BY user_id, visit
"""


_TOPK_RES = 4
_TOPK_K = 3


def q76_tile_top_users(spark, sf_dir):
    """Per-tile heavy hitters: the top-K users by event count in every
    grid cell (rank ties broken by user_id — fully deterministic). Scale
    shape: the (cell, user) pre-aggregation is map-side combinable and
    collapses points to at most |cells| x |users| rows BEFORE the window;
    the per-cell row_number then runs over that tiny table — the standard
    two-phase top-k that never windows over raw points."""
    from pyspark.sql import Window as W

    p = pts_df(spark, sf_dir, with_user=True)
    cu = (
        p.withColumn("cell_id", cell_id_col(F.col("lat"), F.col("lng"), _TOPK_RES))
        .groupBy("cell_id", "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    w = W.partitionBy("cell_id").orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        cu.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _TOPK_K)
        .select("cell_id", "rank", "user_id", "n_events")
        .orderBy("cell_id", "rank")
    )


def _q76_sql() -> str:
    cell = cell_id_sql("lat", "lng", _TOPK_RES)
    return f"""
WITH pts AS (
SELECT event_id, user_id,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
),
cu AS (
  SELECT {cell} AS cell_id, user_id, COUNT(*) AS n_events
  FROM pts GROUP BY 1, 2
),
rk AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY cell_id
                 ORDER BY n_events DESC, user_id ASC) AS INTEGER) AS rank
  FROM cu
)
SELECT cell_id, rank, user_id, n_events
FROM rk WHERE rank <= {_TOPK_K}
ORDER BY cell_id, rank
"""


# ---------------------------------------------------------------------------
# q77: spatial kNN join (k nearest sites within a radius, per probe point)
# ---------------------------------------------------------------------------

_KNNJ_R = 2.0
_KNNJ_K = 5
_KNNJ_PROBE_MOD = 211
_KNNJ_RES = 6


def q77_knn_points_join(spark, sf_dir):
    """Spatial kNN JOIN (reverse geocoding / nearest-POI attach): for each
    probe point (a deterministic event subset), the _KNNJ_K nearest OTHER
    event points within _KNNJ_R degrees, ranked by (dist2, site_id). Pairs
    come from the same asymmetric cell-blocked radius join as q68 (probe
    rectangles x site single cells — complete within the radius,
    duplicate-free, never |P| x |S|); the per-probe row_number windows over
    candidate pairs only (bounded by the sites inside one radius), never raw
    points. The radius bound is what makes a distributed kNN join
    scale-safe: unbounded kNN needs expanding-ring re-probes, and every real
    nearest-POI workload has a natural cutoff. dist2 is the identical f64
    expression in both engines, so ranking ties can never diverge. Oracle:
    brute-force cross join + ROW_NUMBER."""
    from .covertable import point_pairs_within

    p = pts_df(spark, sf_dir)
    probes = p.where(F.col("event_id") % _KNNJ_PROBE_MOD == 0).select(
        F.col("event_id").alias("probe_id"), "lat", "lng"
    )
    sites = p.select(F.col("event_id").alias("site_id"), "lat", "lng")
    pairs = point_pairs_within(
        probes, "probe_id", sites, "site_id", radius=_KNNJ_R, res=_KNNJ_RES
    ).where(F.col("probe_id") != F.col("site_id"))
    w = Window.partitionBy("probe_id").orderBy(F.asc("dist2"), F.asc("site_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _KNNJ_K)
        .select("probe_id", "rank", "site_id", F.round("dist2", 6).alias("dist2"))
        .orderBy("probe_id", "rank")
    )


Q77_SQL = f"""
WITH pts AS ({PTS_SQL}),
probes AS (
  SELECT event_id AS probe_id, lat, lng FROM pts
  WHERE event_id % {_KNNJ_PROBE_MOD} = 0
),
pairs AS (
  SELECT a.probe_id, b.event_id AS site_id, {_PP_D2_SQL} AS dist2
  FROM probes a JOIN pts b ON a.probe_id <> b.event_id
  WHERE {_PP_D2_SQL} <= {_KNNJ_R * _KNNJ_R!r}
),
rk AS (
  SELECT probe_id, site_id, dist2,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
              ORDER BY dist2 ASC, site_id ASC) AS INTEGER) AS rank
  FROM pairs
)
SELECT probe_id, rank, site_id, ROUND(dist2, 6) AS dist2
FROM rk WHERE rank <= {_KNNJ_K}
ORDER BY probe_id, rank
"""


# ---------------------------------------------------------------------------
# q79: geohash encode (the other standard geo index, base32 bit-interleave)
# ---------------------------------------------------------------------------

GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
# bit i of a 16-bit value -> bit 2i (public Morton magic constants)
_SPREAD_STEPS = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))


def _spread_bits_col(x):
    x = x.bitwiseAND(F.lit(0xFFFF))
    for sh, m in _SPREAD_STEPS:
        x = (x.bitwiseOR(F.shiftleft(x, sh))).bitwiseAND(F.lit(m))
    return x


def _spread_bits_sql(x: str) -> str:
    s = f"({x} & 65535)"
    for sh, m in _SPREAD_STEPS:
        s = f"(({s} | ({s} << {sh})) & {m})"
    return s


def morton30_col(lat_col, lng_col):
    """30-bit Morton/geohash code: 15 bits per axis scaled exactly like
    cells.cell_id_col (float32-truncate then f64 floor-scale), longitude on
    the odd (more significant) bit lanes — geohash bit order. Pure JVM
    integer ops, zero UDFs; the same code is both the geohash payload and
    the Z-order locality key (q80)."""
    li, gi = cell_rowcol_col(
        lat_col.cast("float").cast("double"), lng_col.cast("float").cast("double"), 15
    )
    return F.shiftleft(_spread_bits_col(gi), 1).bitwiseOR(_spread_bits_col(li))


def geohash6_col(lat_col, lng_col):
    """6-character geohash string (precision-6, ~±0.61 km). Verified against
    the classic published examples (u4pruy / wx4g0e / r3gx2f) in
    tests/test_cells.py; the axis quantization is the floor-scale form of
    the textbook bisection (identical except at double-rounding boundaries,
    and identical BY CONSTRUCTION to the SQL oracle)."""
    code = morton30_col(lat_col, lng_col)
    alpha = F.array(*[F.lit(c) for c in GH_ALPHABET])
    chars = [
        F.element_at(
            alpha,
            (F.shiftright(code, 25 - 5 * i).bitwiseAND(F.lit(31)) + 1).cast("int"),
        )
        for i in range(6)
    ]
    return F.concat(*chars)


def _morton30_sql_ctes(lat: str, lng: str) -> str:
    """CTE text computing `code` (the 30-bit Morton key) from an `src` CTE
    carrying event_id/lat/lng — mirrors morton30_col bit for bit."""
    n = 1 << 15
    li = (
        f"LEAST(GREATEST(CAST(FLOOR((CAST({lat} AS FLOAT) + 90.0) / 180.0 * {n}) "
        f"AS BIGINT), 0), {n - 1})"
    )
    gi = (
        f"LEAST(GREATEST(CAST(FLOOR((CAST({lng} AS FLOAT) + 180.0) / 360.0 * {n}) "
        f"AS BIGINT), 0), {n - 1})"
    )
    return f"""
ax AS (
  SELECT event_id, {li} AS li, {gi} AS gi FROM src
),
code AS (
  SELECT event_id,
         (({_spread_bits_sql('gi')} << 1) | {_spread_bits_sql('li')}) AS code
  FROM ax
)"""


def q79_geohash(spark, sf_dir):
    """Geohash encode: the standard base32 interleaved-bit geo index (the
    complement to the engine's row-major cell ids) as a pure-JVM column
    expression — bit-spread Morton interleave, no UDF, no shuffle. Emits
    the precision-6 hash plus its precision-3 prefix (prefix-truncation IS
    geohash's multi-resolution rollup). Scale shape: embarrassingly
    parallel scan."""
    p = pts_df(spark, sf_dir)
    return (
        p.select(
            "event_id",
            geohash6_col(F.col("lat"), F.col("lng")).alias("gh6"),
        )
        .withColumn("gh3", F.substring("gh6", 1, 3))
        .orderBy("event_id")
    )


def _q79_sql() -> str:
    ch = " || ".join(
        f"substr('{GH_ALPHABET}', CAST(((code >> {25 - 5 * i}) & 31) AS INTEGER) + 1, 1)"
        for i in range(6)
    )
    return f"""
WITH src AS ({PTS_SQL}),
{_morton30_sql_ctes('lat', 'lng')}
SELECT event_id, gh6, substr(gh6, 1, 3) AS gh3
FROM (SELECT event_id, {ch} AS gh6 FROM code)
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# q80: Z-order write-layout audit (spatial locality of key-range buckets)
# ---------------------------------------------------------------------------

_ZO_BUCKETS_BITS = 10  # 1024 buckets = top 10 bits of the 30-bit Z key
_ZO_CELL_RES = 8


def q80_zorder_layout(spark, sf_dir):
    """Z-order clustering audit — the data-layout primitive behind
    Delta/Iceberg `OPTIMIZE ZORDER BY (lat, lng)`: bucketing rows by
    key RANGE on the Morton code (here: its top 10 bits — 1024
    deterministic range buckets) puts spatially-adjacent rows in the same
    file, so point/range queries prune to a few buckets. The audit
    quantifies that against a content-hash layout on the SAME rows: per
    bucket, the spatial bbox extent and distinct res-8 cells touched, then
    one summary row per layout. At 100 TB this is two map-side-combinable
    groupBys over a scan — no window, no sort, no collect; writing the
    layout itself is `repartitionByRange(zkey)` + sortWithinPartitions.
    Expect zorder avg extents ~100x tighter than hash."""
    p = pts_df(spark, sf_dir)
    zkey = morton30_col(F.col("lat"), F.col("lng"))
    hbucket = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % (1 << _ZO_BUCKETS_BITS)
    )
    tagged = p.select(
        F.col("lat").cast("float").cast("double").alias("lat"),
        F.col("lng").cast("float").cast("double").alias("lng"),
        F.shiftright(zkey, 30 - _ZO_BUCKETS_BITS).alias("zbucket"),
        hbucket.alias("hbucket"),
        cell_id_col(F.col("lat"), F.col("lng"), _ZO_CELL_RES).alias("cell_id"),
    )
    per_bucket = (
        tagged.select(
            F.explode(
                F.array(
                    F.struct(F.lit("zorder").alias("layout"), F.col("zbucket").alias("bucket")),
                    F.struct(F.lit("hash").alias("layout"), F.col("hbucket").alias("bucket")),
                )
            ).alias("lb"),
            "lat", "lng", "cell_id",
        )
        .select("lb.layout", "lb.bucket", "lat", "lng", "cell_id")
        .groupBy("layout", "bucket")
        .agg(
            F.count("*").alias("n"),
            (F.max("lat") - F.min("lat")).alias("lat_ext"),
            (F.max("lng") - F.min("lng")).alias("lng_ext"),
            F.countDistinct("cell_id").alias("n_cells"),
        )
    )
    return (
        per_bucket.groupBy("layout")
        .agg(
            F.countDistinct("bucket").cast("long").alias("n_buckets"),
            F.sum("n").alias("n_rows"),
            F.round(F.avg("lat_ext"), 6).alias("avg_lat_extent"),
            F.round(F.avg("lng_ext"), 6).alias("avg_lng_extent"),
            F.round(F.avg("n_cells"), 6).alias("avg_cells_per_bucket"),
        )
        .orderBy("layout")
    )


def _q80_sql() -> str:
    cell = cell_id_sql("lat", "lng", _ZO_CELL_RES)
    return f"""
WITH src AS ({PTS_SQL}),
{_morton30_sql_ctes('lat', 'lng')},
tagged AS (
  SELECT s.event_id,
         CAST(CAST(s.lat AS FLOAT) AS DOUBLE) AS lat,
         CAST(CAST(s.lng AS FLOAT) AS DOUBLE) AS lng,
         (c.code >> {30 - _ZO_BUCKETS_BITS}) AS zbucket,
         CAST(concat('0x', substring(md5(CAST(s.event_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {1 << _ZO_BUCKETS_BITS} AS hbucket,
         {cell} AS cell_id
  FROM src s JOIN code c USING (event_id)
),
both_layouts AS (
  SELECT 'zorder' AS layout, zbucket AS bucket, lat, lng, cell_id FROM tagged
  UNION ALL
  SELECT 'hash' AS layout, hbucket AS bucket, lat, lng, cell_id FROM tagged
),
per_bucket AS (
  SELECT layout, bucket, COUNT(*) AS n,
         MAX(lat) - MIN(lat) AS lat_ext,
         MAX(lng) - MIN(lng) AS lng_ext,
         COUNT(DISTINCT cell_id) AS n_cells
  FROM both_layouts GROUP BY 1, 2
)
SELECT layout,
       CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       ROUND(AVG(lat_ext), 6) AS avg_lat_extent,
       ROUND(AVG(lng_ext), 6) AS avg_lng_extent,
       ROUND(AVG(n_cells), 6) AS avg_cells_per_bucket
FROM per_bucket GROUP BY layout ORDER BY layout
"""


def q88_zone_value_quantiles(spark, sf_dir):
    """Per-zone value-distribution profile — exact distributed quantiles
    (p25/p50/p90/p99) of the event metric per resolved timezone polygon,
    the latency/metric-percentile rollup every geo-observability pipeline
    runs. Zone resolution reuses the compiled-cover probe (one
    Arrow stage); Spark's exact `percentile` agg matches DuckDB's
    quantile_cont interpolation (rank p*(n-1), linear) so the profile is
    value-pinned cross-engine. Scale shape: percentile is a full-sort agg
    per group — |zones| groups bound the state, partial aggregation
    buckets per group before the one Exchange; for 10^12 rows you'd swap
    in approx_percentile with a documented error bound, keeping this
    exact form as the oracle anchor on samples."""
    cov = box_cover(spark, box_zones(spark, sf_dir))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.select(
        "event_id",
        "value",
        ((F.col("user_id") * 7 % 180) - 90 + F.col("value") / 1e6).alias("lat"),
        ((F.col("event_id") * 13 % 360) - 180).cast("double").alias("lng"),
    )
    r = with_contained_zone(p, assign_udf(cov)).select("value", "zone_id")
    q = F.expr("percentile(value, array(0.25D, 0.5D, 0.9D, 0.99D))")
    return (
        r.groupBy("zone_id")
        .agg(
            F.count("*").alias("n"),
            F.round(q[0], 6).alias("p25"),
            F.round(q[1], 6).alias("p50"),
            F.round(q[2], 6).alias("p90"),
            F.round(q[3], 6).alias("p99"),
        )
        .orderBy("zone_id")
    )


Q88_SQL = f"""
WITH pts AS ({PTS_SQL}), boxes AS ({BOXES_SQL}),
r AS (
  SELECT p.event_id,
         CAST(COALESCE(MIN(CASE WHEN {_CONTAIN_F32} THEN b.zone_id END), -1) AS INTEGER) AS zone_id
  FROM pts p CROSS JOIN boxes b
  GROUP BY p.event_id
)
SELECT r.zone_id, COUNT(*) AS n,
       ROUND(quantile_cont(e.value, 0.25), 6) AS p25,
       ROUND(quantile_cont(e.value, 0.5), 6) AS p50,
       ROUND(quantile_cont(e.value, 0.9), 6) AS p90,
       ROUND(quantile_cont(e.value, 0.99), 6) AS p99
FROM r JOIN events e USING (event_id)
GROUP BY r.zone_id
ORDER BY r.zone_id
"""


def q91_stream_window_counts(spark, sf_dir):
    """Event-time windowed per-tile counts executed as a Structured
    Streaming query (watermark + window agg + Trigger.AvailableNow +
    memory sink) — the stream form of the q06 tile rollup, under the same
    value gate as batch: the oracle recomputes the epoch-aligned 10-minute
    buckets and cell encode relationally, so the streaming engine's window
    assignment, watermark bookkeeping, and state-store aggregation all
    hash-match batch SQL. Plan at scale: parquet-file micro-batches,
    state bounded by |open windows| x |cells|, complete-mode drain (a
    backfill wants every window; late-data drop semantics are pinned
    separately in tests/test_streaming.py)."""
    import tempfile

    from .cells import cell_id_col
    from .streaming import run_available_now

    tmp = tempfile.mkdtemp(prefix="tzq91_")
    pts_df(spark, sf_dir, with_user=True).select("event_id", "ts", "lat", "lng").coalesce(
        8
    ).write.mode("overwrite").parquet(f"{tmp}/pts")
    schema = "event_id bigint, ts timestamp, lat double, lng double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(f"{tmp}/pts")
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(
            F.window("ts", "10 minutes").alias("w"),
            cell_id_col(F.col("lat"), F.col("lng"), 6).alias("cell_id"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "cell_id", "n_events")
    )
    run_available_now(agg, f"{tmp}/ckpt", "q91_out")
    return spark.table("q91_out").orderBy("window_start", "cell_id")


def _q91_sql() -> str:
    from .cells import cell_id_sql

    return f"""
WITH pts AS ({PTS_SQL}),
j AS (SELECT p.lat, p.lng, e.ts FROM pts p JOIN events e USING (event_id))
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       {cell_id_sql('lat', 'lng', 6)} AS cell_id,
       COUNT(*) AS n_events
FROM j
GROUP BY 1, 2
ORDER BY window_start, cell_id
"""


def q93_stream_dedup(spark, sf_dir):
    """Stateful streaming exact-dedup under the value gate: the event
    stream is delivered TWICE (two copies of every input file — the
    at-least-once source), drained in multiple micro-batches (4 files per
    trigger over 16 files, so dropDuplicates state must carry ACROSS
    batches), and the memory-sink output must equal the exactly-once
    table — the oracle is simply the source rows, each once. A first-batch
    -only dedup, state loss between triggers, or cross-batch re-emission
    all change row multiplicity and hash-fail."""
    import tempfile

    from .streaming import run_available_now

    tmp = tempfile.mkdtemp(prefix="tzq93_")
    src = pts_df(spark, sf_dir, with_user=True).select("event_id", "ts", "user_id")
    src.coalesce(8).write.mode("overwrite").parquet(f"{tmp}/in")
    src.coalesce(8).write.mode("append").parquet(f"{tmp}/in")  # redelivery
    schema = "event_id bigint, ts timestamp, user_id bigint"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(f"{tmp}/in")
    )
    deduped = stream.dropDuplicates(["event_id"])
    run_available_now(deduped, f"{tmp}/ckpt", "q93_out")
    return spark.table("q93_out").orderBy("event_id")


_Q93_SQL = """
SELECT event_id, ts, user_id FROM events ORDER BY event_id
"""


def overlay_join_zones(spark, zones_a, zones_b, grid_bits: int = 3):
    """Polygon overlay join core (ST_Intersection-aggregate analog): every
    pair of overlapping polygons across TWO zone layers, with the exact
    intersection AREA computed by the batched Sutherland-Hodgman clip
    kernel (geom.clip_rings_rect_batch — layer B zones are rectangles, so
    clipping A's actual ring to B's window IS the general-polygon path q67
    proved). Candidate pairs come from a coarse-grid cell equi-join over
    bbox cover cells (never a cross join — the overlay of two
    10^7-polygon layers must block spatially), deduped,
    exact-bbox-filtered, then ONE batched clip+shoelace per Arrow batch
    (no per-pair Python loop; VERDICT r4 item 3). ``grid_bits`` sizes the
    blocking grid (2^bits per axis): pick it so cells hold O(1) polygons
    per layer — candidates per cell are |A_cell| x |B_cell|."""
    from .geom import F32, clip_rings_rect_batch

    za = zone_table_df(spark, zones_a)
    zb = zone_table_df(spark, zones_b).select(
        F.col("zone_id").alias("b_zone"),
        F.col("min_lat").alias("b_lat0"),
        F.col("min_lng").alias("b_lng0"),
        F.col("max_lat").alias("b_lat1"),
        F.col("max_lng").alias("b_lng1"),
    )

    ca = explode_rect_cells(
        za, F.col("min_lat"), F.col("max_lat"), F.col("min_lng"), F.col("max_lng"),
        grid_bits,
    )
    cb = explode_rect_cells(
        zb, F.col("b_lat0"), F.col("b_lat1"), F.col("b_lng0"), F.col("b_lng1"),
        grid_bits,
    )
    pairs = (
        ca.join(cb, "_cell")
        .where(
            (F.col("min_lat") < F.col("b_lat1"))
            & (F.col("b_lat0") < F.col("max_lat"))
            & (F.col("min_lng") < F.col("b_lng1"))
            & (F.col("b_lng0") < F.col("max_lng"))
        )
        .select(
            "zone_id", "lats", "lngs", "b_zone", "b_lat0", "b_lng0", "b_lat1", "b_lng1"
        )
        .distinct()
    )

    def _pad_from_list(col, p):
        """Arrow list column -> (padded float64 matrix, counts) with NO
        per-row Python: one gather from the contiguous values buffer via
        the list offsets (round 6 — the old mapInPandas form converted
        every ring to a Python list and padded in a per-pair loop)."""
        off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        vals = col.values.to_numpy(zero_copy_only=False)
        counts = np.diff(off)
        vmax = int(counts.max()) if p else 0
        pad = np.zeros((p, vmax))
        if vmax:
            mask = np.arange(vmax)[None, :] < counts[:, None]
            pad[mask] = vals[_ragged_ramp(off[:-1], counts)].astype(np.float64)
        return pad, counts

    def _clip(batches):
        for batch in batches:
            p = batch.num_rows
            if p == 0:
                continue
            name_idx = {n: i for i, n in enumerate(batch.schema.names)}

            def col(n):
                return batch.column(name_idx[n])

            ypad, counts = _pad_from_list(col("lats"), p)
            xpad, _ = _pad_from_list(col("lngs"), p)
            area = clip_rings_rect_batch(
                ypad, xpad, counts,
                col("b_lat0").to_numpy().astype(np.float64),
                col("b_lng0").to_numpy().astype(np.float64),
                col("b_lat1").to_numpy().astype(np.float64),
                col("b_lng1").to_numpy().astype(np.float64),
            )
            keep = area > 0.0
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(col("zone_id").to_numpy()[keep].astype(np.int32)),
                    pa.array(col("b_zone").to_numpy()[keep].astype(np.int32)),
                    pa.array(np.round(area[keep], 6)),
                ],
                names=["a_zone", "b_zone", "inter_area"],
            )

    return (
        pairs.mapInArrow(_clip, "a_zone int, b_zone int, inter_area double")
        .orderBy("a_zone", "b_zone")
    )


def q95_overlay_join(spark, sf_dir):
    """Overlay join over the nation boxes vs their shifted copies (layer B
    = +6 lat, +10 lng) — the oracle-checked instance of
    overlay_join_zones. Oracle: rectangle-rectangle intersection
    arithmetic — integer-exact here, so a clipper or blocking bug
    hash-fails. The 10^5-pair scale instance runs in bench.py
    (overlay_pairs_100k)."""
    from .cells import Zone

    zones_a = box_zones(spark, sf_dir)
    zones_b = [
        Zone(
            1000 + z.zone_id,
            "B/" + z.tzid,
            z.ring_lat + np.float32(6),
            z.ring_lng + np.float32(10),
        )
        for z in zones_a
    ]
    return overlay_join_zones(spark, zones_a, zones_b, grid_bits=3)


Q95_SQL = f"""
WITH a AS ({BOXES_SQL}),
b AS (
  SELECT zone_id + 1000 AS b_zone,
         min_lat + 6 AS b_lat0, max_lat + 6 AS b_lat1,
         min_lng + 10 AS b_lng0, max_lng + 10 AS b_lng1
  FROM ({BOXES_SQL})
)
SELECT a.zone_id AS a_zone, b.b_zone,
       ROUND((LEAST(a.max_lat, b.b_lat1) - GREATEST(a.min_lat, b.b_lat0))
             * (LEAST(a.max_lng, b.b_lng1) - GREATEST(a.min_lng, b.b_lng0)), 6)
         AS inter_area
FROM a JOIN b
  ON a.min_lat < b.b_lat1 AND b.b_lat0 < a.max_lat
 AND a.min_lng < b.b_lng1 AND b.b_lng0 < a.max_lng
ORDER BY a_zone, b_zone
"""


def q96_mobility_entropy(spark, sf_dir):
    """Per-user mobility entropy — the information-theoretic mobility
    metric (Shannon entropy of a user's visit distribution over res-4
    cells; Song et al.'s predictability work made it the standard
    regularity score). Two map-side-combinable aggregations, zero joins,
    zero Python: (user, cell) counts, then per-user -sum(p ln p) via a
    relational self-rollup (the per-user total rides along as a window-
    free second agg). Entropy 0 = single-cell user; ln(k) = uniform over
    k cells. At 10^12 rows both aggs partial-combine; state is bounded by
    distinct (user, cell)."""
    from .cells import cell_id_col

    p = pts_df(spark, sf_dir, with_user=True)
    uc = (
        p.select("user_id", cell_id_col(F.col("lat"), F.col("lng"), 4).alias("cell"))
        .groupBy("user_id", "cell")
        .agg(F.count("*").alias("n"))
    )
    return (
        uc.groupBy("user_id")
        .agg(
            F.sum("n").alias("n_events"),
            F.count("*").alias("n_cells"),
            F.round(
                F.log(F.sum("n"))
                - F.sum(F.col("n") * F.log("n")) / F.sum("n"),
                6,
            ).alias("entropy"),
        )
        .orderBy("user_id")
    )


def _q96_sql() -> str:
    from .cells import cell_id_sql

    return f"""
WITH pts AS ({PTS_SQL}),
uc AS (
  SELECT user_id, {cell_id_sql('lat', 'lng', 4)} AS cell, COUNT(*) AS n
  FROM (SELECT p.*, e.user_id FROM pts p JOIN events e USING (event_id))
  GROUP BY 1, 2
)
SELECT user_id,
       CAST(SUM(n) AS BIGINT) AS n_events,
       COUNT(*) AS n_cells,
       ROUND(LN(SUM(n)) - SUM(n * LN(n)) / SUM(n), 6) AS entropy
FROM uc GROUP BY user_id ORDER BY user_id
"""


def q99_od_flow_matrix(spark, sf_dir):
    """Origin-destination flow matrix — the mobility product built on top
    of q65's transitions: every zone-change event rolls up into directed
    (from_zone, to_zone) flows with trip and unique-traveler counts (the
    "popular routes" table). Shape: q65's one user_id Exchange for the
    LAG, then ONE partial-aggregated rollup on the (tiny) zone-pair key —
    the output is bounded by |zones|^2 regardless of input rows."""
    t = q65_zone_transitions(spark, sf_dir)
    return (
        t.groupBy(
            F.col("from_zone"), F.col("to_zone")
        )
        .agg(
            F.count("*").alias("n_trips"),
            F.countDistinct("user_id").alias("n_travelers"),
        )
        .orderBy("from_zone", "to_zone")
    )


Q99_SQL = f"""
WITH base AS ({Q65_SQL})
SELECT from_zone, to_zone,
       COUNT(*) AS n_trips,
       COUNT(DISTINCT user_id) AS n_travelers
FROM base
GROUP BY 1, 2
ORDER BY from_zone, to_zone
"""


def q104_zone_dissolve(spark, sf_dir):
    """Polygon DISSOLVE — the GIS merge operator (union adjacent
    same-attribute geometries; the reference's zone set is the dissolved
    form of timezone-boundary-builder's per-country pieces, so this is the
    PREPARATION step a zone-database build runs before compile_cover).
    Zones group by a deterministic class attribute zclass = (zone_id*3)
    div 7 — chosen over n_regionkey because the synthetic region mapping
    makes each region exactly one fully-connected lattice row (every
    component trivially = its whole group); this class yields the mixed
    structure a dissolve must handle: 13 components of sizes 3/2/1 at
    sf0.01, singletons included. Adjacency = sharing a boundary segment of
    POSITIVE length (corner-only touches excluded — proper GIS dissolve
    semantics, expressed as edge-coordinate equality + open interval
    overlap on the other axis, exact because the lattice corners are
    integers). Connected components over the adjacency graph use the same
    pointer-jumping min-label kernel as the dedup families (min_label_cc,
    O(log L) rounds); each component rolls up to its merged bbox. Scale
    shape: adjacency is a self-equi-join on the shared-edge coordinate
    (here trivially small; at world scale it joins on snapped
    boundary-segment keys, never all-pairs), CC state is |zones| rows,
    and the rollup partial-aggregates — no stage touches points at all.
    Oracle: recursive-CTE reachability closure in DuckDB."""
    from .queries_text import min_label_cc

    b = boxes_df(spark, sf_dir).withColumn(
        "zclass", F.expr("(zone_id * 3) div 7").cast("int")
    )
    a1 = b.select(*[F.col(c).alias(f"a_{c}") for c in b.columns])
    a2 = b.select(*[F.col(c).alias(f"b_{c}") for c in b.columns])
    lng_touch = (F.col("a_max_lng") == F.col("b_min_lng")) | (
        F.col("b_max_lng") == F.col("a_min_lng")
    )
    lat_overlap = (F.col("a_min_lat") < F.col("b_max_lat")) & (
        F.col("b_min_lat") < F.col("a_max_lat")
    )
    lat_touch = (F.col("a_max_lat") == F.col("b_min_lat")) | (
        F.col("b_max_lat") == F.col("a_min_lat")
    )
    lng_overlap = (F.col("a_min_lng") < F.col("b_max_lng")) & (
        F.col("b_min_lng") < F.col("a_max_lng")
    )
    edges = (
        a1.join(a2, F.col("a_zclass") == F.col("b_zclass"))
        .where(F.col("a_zone_id") != F.col("b_zone_id"))
        .where((lng_touch & lat_overlap) | (lat_touch & lng_overlap))
        .select(F.col("a_zone_id").alias("src"), F.col("b_zone_id").alias("dst"))
    )
    labels, _rounds = min_label_cc(edges)
    lab = b.join(
        labels.withColumnRenamed("doc_id", "zone_id"), "zone_id", "left"
    ).withColumn("dissolve_id", F.coalesce("canon_id", "zone_id").cast("int"))
    return (
        lab.groupBy("dissolve_id", "zclass")
        .agg(
            F.count("*").alias("n_zones"),
            F.min("min_lat").alias("min_lat"),
            F.max("max_lat").alias("max_lat"),
            F.min("min_lng").alias("min_lng"),
            F.max("max_lng").alias("max_lng"),
        )
        .orderBy("dissolve_id")
    )


Q104_SQL = f"""
WITH RECURSIVE b AS (
  SELECT x.*, CAST((x.zone_id * 3) // 7 AS INTEGER) AS zclass
  FROM ({BOXES_SQL.strip()}) x
),
e AS (
  SELECT a.zone_id AS src, c.zone_id AS dst
  FROM b a JOIN b c
    ON a.zclass = c.zclass AND a.zone_id <> c.zone_id
   AND (((a.max_lng = c.min_lng OR c.max_lng = a.min_lng)
          AND a.min_lat < c.max_lat AND c.min_lat < a.max_lat)
     OR ((a.max_lat = c.min_lat OR c.max_lat = a.min_lat)
          AND a.min_lng < c.max_lng AND c.min_lng < a.max_lng))
),
reach(zone_id, lbl) AS (
  SELECT zone_id, zone_id FROM b
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.zone_id
),
lab AS (SELECT zone_id, MIN(lbl) AS dissolve_id FROM reach GROUP BY zone_id)
SELECT CAST(l.dissolve_id AS INTEGER) AS dissolve_id, b.zclass,
       COUNT(*) AS n_zones,
       MIN(b.min_lat) AS min_lat, MAX(b.max_lat) AS max_lat,
       MIN(b.min_lng) AS min_lng, MAX(b.max_lng) AS max_lng
FROM b JOIN lab l USING (zone_id)
GROUP BY 1, 2
ORDER BY dissolve_id
"""


_RESAMPLE_US = 3_600_000_000  # 1 h grid, in epoch microseconds


def q105_trajectory_resample(spark, sf_dir):
    """Trajectory resampling to a regular cadence — the mobility-training
    preprocessing step (irregular GPS fixes -> fixed hourly positions via
    linear interpolation between the surrounding fixes; the temporal
    analog of q68's spatial IDW). Per user ordered by (ts, event_id):
    LEAD gives the next fix, F.sequence generates the hour-grid epochs in
    the half-open (t0, t1] span (integer div/mod arithmetic on epoch
    MICROS, so both engines enumerate identical grids), and the position
    lerps with frac = (g - t0)/(t1 - t0) — identical int64 inputs, so the
    float64 division is bit-equal cross-engine. Scale shape: ONE Exchange
    on user_id feeds the LEAD window; the explode is output-proportional
    (bounded by span-hours, not fix pairs); no UDF, no second shuffle."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.to_timestamp(F.lit("1970-01-01 00:00:00"))
    p = (
        pts_df(spark, sf_dir, with_user=True)
        .select("user_id", "event_id", "ts", "lat", "lng")
        # timestamp_diff, not unix_micros: NTZ-safe (same convention as
        # q89's version slicing), and DuckDB's epoch_us agrees exactly
        .withColumn("t0", F.timestamp_diff("MICROSECOND", epoch, F.col("ts")))
    )
    H = _RESAMPLE_US
    seg = p.select(
        "user_id",
        "t0",
        "lat",
        "lng",
        F.lead("t0").over(w).alias("t1"),
        F.lead("lat").over(w).alias("lat1"),
        F.lead("lng").over(w).alias("lng1"),
    ).where(F.col("t1").isNotNull())
    first = (F.col("t0") - F.col("t0") % H + H).cast("long")
    last = (F.col("t1") - F.col("t1") % H).cast("long")
    g = (
        seg.withColumn(
            "grid",
            F.when(
                first <= last, F.sequence(first, last, F.lit(H).cast("long"))
            ).otherwise(F.array().cast("array<long>")),
        )
        .select("user_id", "t0", "t1", "lat", "lng", "lat1", "lng1",
                F.explode("grid").alias("t_grid"))
        .withColumn(
            "frac",
            (F.col("t_grid") - F.col("t0")).cast("double")
            / (F.col("t1") - F.col("t0")).cast("double"),
        )
    )
    return g.select(
        "user_id",
        "t_grid",
        F.round(F.col("lat") + F.col("frac") * (F.col("lat1") - F.col("lat")), 6)
        .alias("lat"),
        F.round(F.col("lng") + F.col("frac") * (F.col("lng1") - F.col("lng")), 6)
        .alias("lng"),
    ).orderBy("user_id", "t_grid")


Q105_SQL = f"""
WITH pts AS (
SELECT event_id, ts, user_id,
       (user_id * 7 % 180) - 90 + value / 1e6 AS lat,
       CAST((event_id * 13 % 360) - 180 AS DOUBLE) AS lng
FROM events
),
seg AS (
  SELECT user_id, epoch_us(ts) AS t0, lat, lng,
         LEAD(epoch_us(ts)) OVER w AS t1,
         LEAD(lat) OVER w AS lat1,
         LEAD(lng) OVER w AS lng1
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT s.*, gs.g AS t_grid,
         CAST(gs.g - s.t0 AS DOUBLE) / CAST(s.t1 - s.t0 AS DOUBLE) AS frac
  FROM seg s
  JOIN LATERAL (
    SELECT unnest(generate_series(
      s.t0 - s.t0 % {_RESAMPLE_US} + {_RESAMPLE_US},
      s.t1 - s.t1 % {_RESAMPLE_US},
      {_RESAMPLE_US})) AS g
  ) gs ON TRUE
  WHERE s.t1 IS NOT NULL
)
SELECT user_id, t_grid,
       ROUND(lat + frac * (lat1 - lat), 6) AS lat,
       ROUND(lng + frac * (lng1 - lng), 6) AS lng
FROM g
ORDER BY user_id, t_grid
"""


def q106_boundary_distance(spark, sf_dir):
    """Distance-to-zone-boundary — the geofence MARGIN operator (alerting
    fires on "inside but within d of the fence", not on containment
    alone; also the coastal-proximity feature of geospatial training
    sets). Points resolve through the real compiled-cover engine path
    (q11's interior-shortcut + boundary PIP), then the distance to each of
    the four box edges is pure column arithmetic (float64, so a point whose
    float32 lat rounds onto an edge it sits just outside of reads a
    distance of about -1e-9); the nearest edge label breaks ties
    deterministically (S < N < W < E priority via the struct argmin's
    second key). dist_edge is rounded to 6 places as floor(d * 1e6 + 0.5)
    / 1e6, the same float64 operations in the SQL oracle, because ROUND
    differs between the engines: Spark rounds 1.0001295 half-up from its
    shortest decimal form to 1.00013, DuckDB rounds the binary value
    1.00012949999... to 1.000129. Scale shape: the resolve is the engine's
    cover probe, the rest never shuffles; the margin filter pushes
    down to a scan predicate at 10^12 rows."""
    cov = box_cover(spark, box_zones(spark, sf_dir))
    # no explicit zone_id >= 0 filter (the inner join against boxes, ids all
    # >= 0, drops unresolved rows for free) AND the probe is marked
    # nondeterministic — the same single-evaluation guard the fused engine
    # lookup uses (engine.py lookup_udf): otherwise Catalyst's inferred
    # join-key isnotnull filter extracts the Python UDF twice (observed as
    # two ArrowEvalPython stages = the probe running 2x per row);
    # PLANS.md asserts the probe stays single
    r = with_contained_zone(pts_df(spark, sf_dir), assign_udf(cov).asNondeterministic())
    b = boxes_df(spark, sf_dir).select("zone_id", "min_lat", "max_lat",
                                       "min_lng", "max_lng")
    j = r.join(F.broadcast(b), "zone_id")
    edges = [
        F.col("lat") - F.col("min_lat"),   # 0 = S
        F.col("max_lat") - F.col("lat"),   # 1 = N
        F.col("lng") - F.col("min_lng"),   # 2 = W
        F.col("max_lng") - F.col("lng"),   # 3 = E
    ]
    # numeric priority in the struct's SECOND key: exact distance ties (the
    # integer lng grid makes d_w == d_e common) resolve S < N < W < E on
    # BOTH engines — a string key would sort "E" first lexicographically
    best = F.array_min(
        F.array(
            *[
                F.struct(d.alias("d"), F.lit(k).alias("pri"))
                for k, d in enumerate(edges)
            ]
        )
    )
    names = F.array(F.lit("S"), F.lit("N"), F.lit("W"), F.lit("E"))
    return j.select(
        "event_id",
        "zone_id",
        (F.floor(best["d"] * 1e6 + 0.5) / 1e6).alias("dist_edge"),
        F.element_at(names, best["pri"] + 1).alias("edge"),
        (best["d"] < 1.0).alias("margin_alert"),
    ).orderBy("event_id")


Q106_SQL = f"""
WITH pts AS ({PTS_SQL.strip()}),
boxes AS ({BOXES_SQL.strip()}),
j AS (
  SELECT p.event_id, b.zone_id,
         p.lat - b.min_lat AS d_s, b.max_lat - p.lat AS d_n,
         p.lng - b.min_lng AS d_w, b.max_lng - p.lng AS d_e
  FROM pts p JOIN boxes b ON {_CONTAIN_F32}
),
m AS (
  SELECT *, LEAST(d_s, d_n, d_w, d_e) AS dmin FROM j
)
SELECT event_id, zone_id,
       FLOOR(dmin * 1e6 + 0.5) / 1e6 AS dist_edge,
       CASE WHEN dmin = d_s THEN 'S' WHEN dmin = d_n THEN 'N'
            WHEN dmin = d_w THEN 'W' ELSE 'E' END AS edge,
       dmin < 1.0 AS margin_alert
FROM m
ORDER BY event_id
"""


GEO_QUERIES = {
    "q104_zone_dissolve": (q104_zone_dissolve, Q104_SQL),
    "q105_trajectory_resample": (q105_trajectory_resample, Q105_SQL),
    "q106_boundary_distance": (q106_boundary_distance, Q106_SQL),
    "q99_od_flow_matrix": (q99_od_flow_matrix, Q99_SQL),
    "q96_mobility_entropy": (q96_mobility_entropy, _q96_sql()),
    "q95_overlay_join": (q95_overlay_join, Q95_SQL),
    "q93_stream_dedup": (q93_stream_dedup, _Q93_SQL),
    "q91_stream_window_counts": (q91_stream_window_counts, _q91_sql()),
    "q89_versioned_resolve": (q89_versioned_resolve, Q89_SQL),
    "q88_zone_value_quantiles": (q88_zone_value_quantiles, Q88_SQL),
    "q80_zorder_layout": (q80_zorder_layout, _q80_sql()),
    "q79_geohash": (q79_geohash, _q79_sql()),
    "q77_knn_points_join": (q77_knn_points_join, Q77_SQL),
    "q76_tile_top_users": (q76_tile_top_users, _q76_sql()),
    "q75_zone_dwell": (
        q75_zone_dwell,
        Q75_SQL.replace("{BOXES}", BOXES_SQL).replace("{CONTAIN}", _CONTAIN_F32),
    ),
    "q73_haversine_displacement": (q73_haversine_displacement, Q73_SQL),
    "q72_colocation": (q72_colocation, Q72_SQL),
    "q70_tile_pyramid": (q70_tile_pyramid, _q70_sql()),
    "q68_idw_interpolation": (
        q68_idw_interpolation,
        Q68_SQL.replace("{PTS}", PTS_SQL).replace("{D2}", _PP_D2_SQL),
    ),
    "q67_clip_conservation": (q67_clip_conservation, _q67_sql()),
    "q66_focal_tile_stats": (q66_focal_tile_stats, _q66_sql()),
    "q65_zone_transitions": (q65_zone_transitions, Q65_SQL),
    "q64_zone_geometry": (q64_zone_geometry, _q64_sql()),
    "q62_pagerank": (q62_pagerank, Q62_SQL),
    "q59_hll_tile_users": (q59_hll_tile_users, Q59_SQL),
    "q58_user_displacement": (q58_user_displacement, Q58_SQL),
    "q57_geo_dbscan": (q57_geo_dbscan, Q57_SQL),
    "q54_proximity_pairs": (q54_proximity_pairs, Q54_SQL),
    "q53_radius_join": (q53_radius_join, Q53_SQL),
    "q52_multi_tenant_resolve": (q52_multi_tenant_resolve, Q52_SQL),
    "q28_frame_sample": (q28_frame_sample, Q28_SQL),
    "q36_pricing_summary": (q36_pricing_summary, Q36_SQL),
    "q01_validity_filter": (q01_validity_filter, Q01_SQL),
    "q02_cell_encode": (q02_cell_encode, Q02_SQL),
    "q03_bbox_join": (q03_bbox_join, Q03_SQL),
    "q04_deterministic_match": (q04_deterministic_match, Q04_SQL),
    "q05_knn_fallback": (q05_knn_fallback, Q05_SQL),
    "q06_tile_counts": (q06_tile_counts, Q06_SQL),
    "q07_salted_agg": (q07_salted_agg, Q07_SQL),
    "q08_zone_bounds": (q08_zone_bounds, Q08_SQL),
    "q09_zone_table_build": (q09_zone_table_build, Q09_SQL),
    "q10_pip_exact_kernel": (q10_pip_exact_kernel, Q10_SQL),
    "q11_resolve_cover": (q11_resolve_cover, Q11_SQL),
    "q12_knn_engine": (q12_knn_engine, Q12_SQL),
    "q39_resolve_join": (q39_resolve_join, Q10_SQL),
    "q40_knn_join": (q40_knn_join, Q12_SQL),
    "q43_zone_update_resolve": (q43_zone_update_resolve, Q43_SQL),
}
