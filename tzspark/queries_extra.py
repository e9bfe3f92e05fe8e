"""Payload-path queries and their DuckDB pixel/coordinate-synthesis oracles.

The synthetic payloads are deterministic arithmetic in the row index, so
even the image-decode statistics are value-level SQL-expressible: the
oracles below reproduce the coordinate synthesis (splitmix64 in HUGEINT
arithmetic), the pixel synthesis (gradient + sinusoid, verified bit-exact
between numpy and DuckDB's sin over the whole argument domain), the codec
decode (qnt dequantize), the nearest-neighbor resize gather, PSNR from
exact squared-error sums, and even the full concave-zone engine (q27: ring
edges inlined as literals + the float32 even-odd ray cast replayed in
FLOAT arithmetic). Even the structured-streaming execution (q31) is
value-checked: the stream's drained output over the nation-box zones is a
deterministic relation, so the q41 engine oracle applies to it verbatim.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


# One synthesis per (session, sf_dir): seven payload queries share the same
# deterministic images table, so persist it instead of re-synthesizing per
# query — the correctness harness runs all of them in one session. Weakly
# keyed on the JVM-side session id so a stopped/replaced session re-builds.
_IMAGES_CACHE: dict = {}


def _images(spark, sf_dir):
    from .datasets import images_from_events

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _IMAGES_CACHE.get(key)
    if cached is not None:
        return cached
    df = images_from_events(spark, sf_dir).persist()
    _IMAGES_CACHE[key] = df
    return df


def q24_extract_gps(spark, sf_dir):
    """Vectorized EXIF-style GPS extraction from image bytes (input_hint:
    batch header parse via np.frombuffer, no per-row Python). Only the
    17-byte header prefix crosses the Arrow boundary (gps_header_col) —
    the repo's payload-crosses-once rule."""
    from .engine import extract_gps_udf, gps_header_col

    imgs = _images(spark, sf_dir)
    g = imgs.withColumn("g", extract_gps_udf()(gps_header_col(F.col("bytes"))))
    return g.select(
        "image_id",
        F.col("g.lat").alias("lat"),
        F.col("g.lng").alias("lng"),
        F.col("g.gps_ok").alias("gps_ok"),
    )


# --- DuckDB oracle for q24: reproduce the synthetic coordinate pipeline ------
#
# The image blobs are deterministic in events.event_id (datasets.synth_coords:
# splitmix64-hash streams -> hot/uniform/offshore mixture -> float32 header).
# The ENTIRE derivation is exact-expressible in ANSI-ish SQL: 64-bit wrapping
# arithmetic via HUGEINT mod 2^64, xor/shift on UBIGINT, IEEE doubles, and a
# final CAST AS FLOAT for the float32 header truncation. The Spark side reads
# the values back out of the binary header; value-hash equality proves the
# encode -> blob -> vectorized extract path end to end.

_M64 = 1 << 64


def _mulmod_sql(x: str, c: int) -> str:
    """(x * c) mod 2^64 without overflowing HUGEINT (int128): split x into
    32-bit halves so every intermediate stays < 2^96."""
    return (
        f"CAST(((CAST({x} AS HUGEINT) // 4294967296 * {c} % 4294967296) * 4294967296"
        f" + CAST({x} AS HUGEINT) % 4294967296 * {c}) % {_M64} AS UBIGINT)"
    )


def _sm64_stage_sql(col: str, stage: int) -> str:
    """One splitmix64 stage (matches datasets._splitmix64 op for op)."""
    if stage == 0:  # x += 0x9E3779B97F4A7C15 (mod 2^64)
        return f"CAST((CAST({col} AS HUGEINT) + {0x9E3779B97F4A7C15}) % {_M64} AS UBIGINT)"
    if stage == 1:
        return f"xor({col}, {col} >> 30)"
    if stage == 2:
        return _mulmod_sql(col, 0xBF58476D1CE4E5B9)
    if stage == 3:
        return f"xor({col}, {col} >> 27)"
    if stage == 4:
        return _mulmod_sql(col, 0x94D049BB133111EB)
    return f"xor({col}, {col} >> 31)"


def _q24_sql() -> str:
    streams = {"s": 1, "a": 2, "b": 3, "k": 4}  # sel, u1, u2, hot_k
    seed_cols = ", ".join(
        f"CAST((CAST(i AS HUGEINT) * 1315423911 + {st}) % {_M64} AS UBIGINT) AS x_{nm}"
        for nm, st in streams.items()
    )
    stages = []
    for stage in range(6):
        cols = ", ".join(
            f"{_sm64_stage_sql(f'x_{nm}', stage)} AS x_{nm}" for nm in streams
        )
        stages.append(f"st{stage} AS (SELECT i, {cols} FROM {'seed' if stage == 0 else f'st{stage-1}'})")
    u_cols = ", ".join(
        f"CAST(x_{nm} >> 11 AS DOUBLE) / 9007199254740992.0 AS u_{nm}" for nm in streams
    )
    hot = [(3.0, 3.0), (9.5, 15.5), (15.2, 27.3), (21.0, 9.0), (3.5, 33.0)]
    hot_lat = "CASE hk " + " ".join(f"WHEN {k} THEN {la}" for k, (la, _) in enumerate(hot)) + " END"
    hot_lng = "CASE hk " + " ".join(f"WHEN {k} THEN {lg}" for k, (_, lg) in enumerate(hot)) + " END"
    return f"""
WITH ev AS (SELECT event_id AS i FROM events),
seed AS (SELECT i, {seed_cols} FROM ev),
{", ".join(stages)},
u AS (SELECT i, {u_cols},
             LEAST(GREATEST(CAST(FLOOR(CAST(x_k >> 11 AS DOUBLE) / 9007199254740992.0 * 5) AS BIGINT), 0), 4) AS hk
      FROM st5),
c AS (SELECT i,
             CASE WHEN u_s < 0.80 THEN {hot_lat} + (u_a - 0.5) * 0.5
                  WHEN u_s < 0.95 THEN -6.0 + u_a * 48.0
                  WHEN u_b < 0.5 THEN 34.5 + u_a * 1.0
                  ELSE 24.5 + u_a * 1.0 END AS lat64,
             CASE WHEN u_s < 0.80 THEN {hot_lng} + (u_b - 0.5) * 0.5
                  ELSE -6.0 + u_b * 48.0 END AS lng64
      FROM u)
SELECT i,
       'img' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(lat64 AS FLOAT) AS lat,
       CAST(lng64 AS FLOAT) AS lng
FROM c
"""


# i, image_id, lat(f32), lng(f32) for every event row — the shared seed of
# every payload oracle below.
COORDS_SQL = _q24_sql()

Q24_SQL = f"SELECT image_id, lat, lng, TRUE AS gps_ok FROM ({COORDS_SQL})"


# --- DuckDB pixel-synthesis oracles: q25 / q26 / q29 / q30 -------------------
#
# synth_pixels (imagecodec.py:49-63) is pure float64 arithmetic in the row
# index and pixel coordinates, and the codec decode is exact integer math
# (qnt: 4*floor(p/4)+2), so the per-image DECODED channel sums — the basis of
# every payload statistic the engine reports — are exactly expressible in
# SQL. numpy's vectorized sin matches DuckDB's libm sin bit-for-bit over the
# entire argument domain used here (verified exhaustively for sf0.01 AND
# sf0.1: 5.5M distinct arguments, zero float64 mismatches), and every other
# op (IEEE +,*,/ and fmod on doubles, floor of non-negative values = the
# uint8 truncation) is deterministic across both engines — so these oracles
# are value-exact, not approximate.

_DIMS_SQL = """SELECT event_id AS i,
       CASE CAST(event_id % 3 AS INTEGER) WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 32 END AS w,
       CASE CAST(event_id % 3 AS INTEGER) WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END AS h,
       CASE CAST(event_id % 3 AS INTEGER) WHEN 0 THEN 'raw' WHEN 1 THEN 'rle' ELSE 'qnt' END AS fmt,
       CAST((event_id * 37) % 256 AS DOUBLE) AS phase
  FROM events"""


def _decoded_px_sql(src: str) -> str:
    """Wrap ``src`` (yields i,w,h,fmt,phase,x,y) with the synthetic pixel
    values: r0/g0/b0 are the stored uint8 channels (synth_pixels op for op;
    FLOOR == the .astype(uint8) truncation because every value is >= 0) and
    r/g/b the codec-DECODED values (identity for raw/rle, 4*floor(p/4)+2
    for qnt — imagecodec.decode_image's dequantize)."""
    return f"""
SELECT *,
       CASE WHEN fmt = 'qnt' THEN 4 * FLOOR(r0 / 4) + 2 ELSE r0 END AS r,
       CASE WHEN fmt = 'qnt' THEN 4 * FLOOR(g0 / 4) + 2 ELSE g0 END AS g,
       CASE WHEN fmt = 'qnt' THEN 4 * FLOOR(b0 / 4) + 2 ELSE b0 END AS b
FROM (
  SELECT *,
         FLOOR(base) AS r0,
         FLOOR((base + phase) % 256.0) AS g0,
         FLOOR(127.5 + 127.5 * SIN((x + y) / 7.0 + i * 0.31)) AS b0
  FROM (SELECT *, (x * 255.0 / (w - 1) + y * 255.0 / (h - 1)) / 2.0 AS base
        FROM ({src}))
)"""


def _pixsums_sql() -> str:
    """Per-image exact channel sums of the decoded pixels, plus the qnt
    squared-error total (for PSNR) — one row per image."""
    full_grid = f"""
  SELECT d.i, d.w, d.h, d.fmt, d.phase, sy.v AS y, sx.v AS x
    FROM ({_DIMS_SQL}) d
    JOIN (SELECT unnest(generate_series(0, 31)) AS v) sy ON sy.v < d.h
    JOIN (SELECT unnest(generate_series(0, 31)) AS v) sx ON sx.v < d.w"""
    return f"""
SELECT i, w, h, fmt, w * h AS npx,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM((r0 - r) * (r0 - r) + (g0 - g) * (g0 - g)
                + (b0 - b) * (b0 - b)) AS BIGINT) AS sq_err
FROM ({_decoded_px_sql(full_grid)})
GROUP BY i, w, h, fmt
"""


PIXSUMS_SQL = _pixsums_sql()


def _q29_sql() -> str:
    # mean_* reproduce imageops.image_features bit-for-bit: exact int64
    # channel sums -> float64 division by npx; luma via the same
    # left-associated 0.299/0.587/0.114 combination (imagecodec.py:315-317).
    return f"""
WITH s AS ({PIXSUMS_SQL})
SELECT 'img' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
       CAST(sum_r AS DOUBLE) / npx AS mean_r,
       CAST(sum_g AS DOUBLE) / npx AS mean_g,
       CAST(sum_b AS DOUBLE) / npx AS mean_b,
       (CAST(0.299 AS DOUBLE) * sum_r + CAST(0.587 AS DOUBLE) * sum_g
        + CAST(0.114 AS DOUBLE) * sum_b) / npx AS mean_luma,
       fmt <> 'qnt' AS phash_ok,
       FALSE AS decode_failed
FROM s
"""


def _q30_sql() -> str:
    # Nearest-neighbor gather: output pixel (oy, ox) of the 8x8 resize reads
    # source (oy*h//8, ox*w//8) (imageops.resize_images yi/xi ramps); the
    # gathered value is the DECODED channel byte, so the resized blob's
    # channel sums are the sums of those 192 decoded source bytes.
    gather = f"""
  SELECT d.i, d.w, d.h, d.fmt, d.phase,
         (oy.v * d.h) // 8 AS y, (ox.v * d.w) // 8 AS x
    FROM ({_DIMS_SQL}) d
    JOIN (SELECT unnest(generate_series(0, 7)) AS v) oy ON TRUE
    JOIN (SELECT unnest(generate_series(0, 7)) AS v) ox ON TRUE"""
    return f"""
WITH co AS ({COORDS_SQL}),
rs AS (
  SELECT i,
         CAST(SUM(r) AS BIGINT) AS sum_r,
         CAST(SUM(g) AS BIGINT) AS sum_g,
         CAST(SUM(b) AS BIGINT) AS sum_b
  FROM ({_decoded_px_sql(gather)})
  GROUP BY i
)
SELECT co.image_id, CAST(8 AS INTEGER) AS w, CAST(8 AS INTEGER) AS h,
       co.lat, co.lng, TRUE AS gps_ok,
       rs.sum_r, rs.sum_g, rs.sum_b
FROM co JOIN rs ON rs.i = co.i
"""


def _q26_sql() -> str:
    from .cells import DEFAULT_MAX_RES, cell_id_sql

    cell = cell_id_sql("co.lat", "co.lng", DEFAULT_MAX_RES)
    return f"""
WITH co AS ({COORDS_SQL}), s AS ({PIXSUMS_SQL})
SELECT {cell} AS cell_id,
       COUNT(*) AS n_images,
       CAST(SUM(s.npx) AS BIGINT) AS n_pixels,
       SUM(CAST(0.299 AS DOUBLE) * s.sum_r + CAST(0.587 AS DOUBLE) * s.sum_g
           + CAST(0.114 AS DOUBLE) * s.sum_b)
         / SUM(s.npx) AS mean_luma,
       SUM(CAST(co.lat AS DOUBLE)) / COUNT(*) AS mean_lat,
       SUM(CAST(co.lng AS DOUBLE)) / COUNT(*) AS mean_lng
FROM co JOIN s ON s.i = co.i
GROUP BY cell_id
"""


def _q25_sql() -> str:
    # PSNR from the exact squared-error total: mse = sq_err / (3*w*h); raw
    # and rle are lossless (sq_err = 0 -> the engine's 1e9 'inf' sentinel).
    # n_violations = 0 is the INVARIANT the Spark side must reproduce — if
    # the codec ever breaks it, the Spark value flips and the hash fails.
    return f"""
WITH s AS ({PIXSUMS_SQL}),
per AS (
  SELECT fmt,
         CASE WHEN sq_err = 0 THEN 1e9
              ELSE 20.0 * LOG10(255.0 / SQRT(CAST(sq_err AS DOUBLE) / (3 * npx)))
         END AS p
  FROM s)
SELECT fmt, COUNT(*) AS n_rows, CAST(0 AS BIGINT) AS n_violations,
       ROUND(MIN(p), 2) AS min_psnr
FROM per GROUP BY fmt
"""


def q41_full_engine_boxes(spark, sf_dir):
    """The WHOLE fused lookup pipeline (engine.assign_timezones: header
    extract -> validity -> resolve -> kNN -> cell encode -> tzid broadcast
    join) under a value-level oracle. q24 proves the extract, q10/q11 the
    PIP kernels, q12 the kNN — this runs the single-Arrow-crossing
    lookup_udf END TO END against a DuckDB oracle composed from the same
    pieces (splitmix64 coord synthesis + f32 half-open containment argmin +
    clamp-distance kNN + cell arithmetic), over the 25 nation boxes where
    rectangle PIP is exactly SQL-expressible. Per-image output (not a
    rollup) so any row-level drift hash-fails."""
    from .engine import assign_timezones, zone_dim_df
    from .queries_geo import box_cover, box_zones

    zones = box_zones(spark, sf_dir)
    dim = zone_dim_df(spark, zones)
    a = assign_timezones(_images(spark, sf_dir), box_cover(spark, zones), dim, max_res=7)
    return a.select(
        "image_id", "lat", "lng", "zone_id", "via_knn", "cell_id", "tzid"
    )


def q42_full_engine_boxes_join(spark, sf_dir):
    """q41's pipeline through the facade: TimezoneLookup.assign_join (GPS
    extract -> quarantine -> resolve/kNN against the mapped index file ->
    tzid attach) must produce the exact same per-image rows — same composed
    DuckDB oracle as q41, so the facade's memoized plan is value-pinned end
    to end."""
    from .api import TimezoneLookup
    from .queries_geo import box_zones

    tl = TimezoneLookup(box_zones(spark, sf_dir), base_res=3, max_res=7)
    a = tl.assign_join(spark, _images(spark, sf_dir))
    return a.select(
        "image_id", "lat", "lng", "zone_id", "via_knn", "cell_id", "tzid"
    )


def _q41_sql() -> str:
    from .cells import cell_id_sql
    from .queries_geo import BOXES_SQL, _CONTAIN_F32

    # the containment/knn predicates are written against p.lat/p.lng; the
    # coords CTE yields FLOAT columns already, so CAST(p.lat AS FLOAT) is a
    # no-op there — kept identical to the proven Q10/Q12 text.
    return f"""
WITH coords AS (SELECT image_id, lat, lng FROM ({Q24_SQL})),
boxes AS ({BOXES_SQL}),
res AS (
  SELECT p.image_id, p.lat, p.lng,
         MIN(CASE WHEN {_CONTAIN_F32} THEN b.zone_id END) AS rz
  FROM coords p CROSS JOIN boxes b
  GROUP BY p.image_id, p.lat, p.lng
),
knn AS (
  SELECT p.image_id, b.zone_id,
         ROW_NUMBER() OVER (
           PARTITION BY p.image_id
           ORDER BY POWER(GREATEST(b.min_lat - CAST(p.lat AS FLOAT), CAST(p.lat AS FLOAT) - b.max_lat, 0), 2)
                  + POWER(GREATEST(b.min_lng - CAST(p.lng AS FLOAT), CAST(p.lng AS FLOAT) - b.max_lng, 0), 2),
                    b.zone_id) AS rn
  FROM res p CROSS JOIN boxes b WHERE p.rz IS NULL
),
final AS (
  SELECT r.image_id, r.lat, r.lng,
         CAST(COALESCE(r.rz, k.zone_id) AS INTEGER) AS zone_id,
         r.rz IS NULL AS via_knn
  FROM res r
  LEFT JOIN (SELECT image_id, zone_id FROM knn WHERE rn = 1) k USING (image_id)
)
SELECT f.image_id, f.lat, f.lng, f.zone_id, f.via_knn,
       {cell_id_sql('f.lat', 'f.lng', 7)} AS cell_id, b.tzid
FROM final f JOIN boxes b ON f.zone_id = b.zone_id
"""


Q41_SQL = _q41_sql()

EXTRA_ORACLES = {
    "q24_extract_gps": Q24_SQL,
    "q41_full_engine_boxes": Q41_SQL,
    "q42_full_engine_boxes_join": Q41_SQL,
    "q31_stream_assign": (
        f"SELECT image_id, zone_id, tzid, via_knn FROM ({Q41_SQL})"
    ),
    "q25_psnr_invariant": _q25_sql(),
    "q26_tile_raster": _q26_sql(),
    "q29_image_features": _q29_sql(),
    "q30_resize": _q30_sql(),
}


def q25_psnr_invariant(spark, sf_dir):
    """Per-row payload invariant: decode every image, recompute pixels from
    the row index, report PSNR class. Output = per-fmt violation counts
    (expected: zero violations — lossless bit-equal, lossy >= 40 dB).
    Fully vectorized (imagecodec.batch_psnr_audit): the synthesis broadcast
    and one payload gather per shape group replace the round-2 per-image
    decode loop; hash-checked against the exact squared-error PSNR oracle
    (_q25_sql)."""
    from .engine import _arrow_binary_view
    from .imagecodec import FMT_NAMES, batch_psnr_audit

    imgs = _images(spark, sf_dir).select("image_id", "bytes", "fmt")

    schema = T.StructType(
        [
            T.StructField("fmt", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_violations", T.LongType()),
            T.StructField("min_psnr", T.DoubleType()),
        ]
    )

    def _check(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0).to_pandas()
            i = ids.str[3:].astype(np.int64).to_numpy()
            data, offs, valid = _arrow_binary_view(batch.column(1))
            audit = batch_psnr_audit(data, offs, i)
            ok = audit["ok"] if valid is None else audit["ok"] & valid
            p = audit["psnr"]
            rows = []
            for code, name in FMT_NAMES.items():
                m = ok & (audit["fmt_code"] == code)
                if not m.any():
                    continue
                viol = (
                    (p[m] < 40.0) if name == "qnt" else (p[m] != np.inf)
                ).sum()
                finite = np.where(np.isinf(p[m]), 1e9, p[m])
                rows.append(
                    {
                        "fmt": name,
                        "n_rows": int(m.sum()),
                        "n_violations": int(viol),
                        "min_psnr": float(finite.min()),
                    }
                )
            if rows:
                yield pa.RecordBatch.from_pandas(
                    pd.DataFrame(rows), schema=pa.schema(
                        [
                            pa.field("fmt", pa.string()),
                            pa.field("n_rows", pa.int64()),
                            pa.field("n_violations", pa.int64()),
                            pa.field("min_psnr", pa.float64()),
                        ]
                    )
                )

    per_part = imgs.mapInArrow(_check, schema)
    return per_part.groupBy("fmt").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_violations").alias("n_violations"),
        F.round(F.min("min_psnr"), 2).alias("min_psnr"),
    )


def q26_tile_raster(spark, sf_dir):
    """Raster<->vector tiling: group decoded images by cell and compute
    stacked-raster stats via applyInPandas (north_star tiling operator)."""
    from .datasets import images_from_events
    from .engine import tile_rollup_fused

    return tile_rollup_fused(images_from_events(spark, sf_dir)).select(
        "cell_id",
        "n_images",
        "n_pixels",
        # unrounded: Spark's HALF_UP-on-BigDecimal and DuckDB's
        # floating ROUND disagree on near-tie doubles; the driver's canon
        # rounds both sides identically instead.
        "mean_luma",
        "mean_lat",
        "mean_lng",
    )


def _q27_sql() -> str:
    """Value-level oracle for the FULL concave-zone engine: the synthetic
    zone set's ring edges are inlined as SQL literals (f32 values round-trip
    exactly through their shortest decimal repr) and the reference's
    float32 even-odd ray cast (geom.ray_intersects_segment_scalar,
    polygon.go:113-116) is reproduced op for op in FLOAT arithmetic —
    DuckDB FLOAT binary ops round to float32 per op exactly like the numpy
    kernel (verified bit-equal on probe chains). NULLIF guards the
    denominator; when the strict straddle test holds the denominator is
    provably nonzero, matching the kernel's reachability argument
    (SURVEY.md §1.3). Unmatched points fall to the kNN argmin over zone
    MBR clamp distances in float64 (bbox_clamp_dist2_f64's documented
    SQL form), tie-break min zone_id."""
    from .geom import ring_edges
    from .zones import make_zones

    zones = make_zones(n_coast=8000)
    edge_rows, box_rows = [], []
    for z in zones:
        box_rows.append(
            f"({z.zone_id},'{z.tzid}',{float(np.float32(z.bbox[0]))!r},"
            f"{float(np.float32(z.bbox[1]))!r},{float(np.float32(z.bbox[2]))!r},"
            f"{float(np.float32(z.bbox[3]))!r})"
        )
        if len(z.ring_lat) < 3:  # degenerate ring never matches (polygon.go:101)
            continue
        al, ag, bl, bg = ring_edges(z.ring_lat, z.ring_lng)
        for k in range(al.shape[0]):
            edge_rows.append(
                f"({z.zone_id},{float(al[k])!r},{float(ag[k])!r},"
                f"{float(bl[k])!r},{float(bg[k])!r})"
            )
    return f"""
WITH co AS ({COORDS_SQL}),
edges AS (
  SELECT zone_id, CAST(alat AS FLOAT) AS alat, CAST(alng AS FLOAT) AS alng,
         CAST(blat AS FLOAT) AS blat, CAST(blng AS FLOAT) AS blng
  FROM (VALUES {",".join(edge_rows)}) t(zone_id, alat, alng, blat, blng)
),
boxes AS (
  SELECT zone_id, tzid, CAST(min_lat AS FLOAT) AS min_lat,
         CAST(min_lng AS FLOAT) AS min_lng, CAST(max_lat AS FLOAT) AS max_lat,
         CAST(max_lng AS FLOAT) AS max_lng
  FROM (VALUES {",".join(box_rows)}) t(zone_id, tzid, min_lat, min_lng, max_lat, max_lng)
),
par AS (
  SELECT co.i, e.zone_id,
         SUM(CASE WHEN (e.alng > co.lng) <> (e.blng > co.lng)
                   AND co.lat < ((e.blat - e.alat) * (co.lng - e.alng))
                                / NULLIF(e.blng - e.alng, CAST(0 AS FLOAT))
                              + e.alat
                  THEN 1 ELSE 0 END) AS crossings
  FROM co CROSS JOIN edges e
  GROUP BY co.i, e.zone_id
),
res AS (
  SELECT i, MIN(CASE WHEN crossings % 2 = 1 THEN zone_id END) AS rz
  FROM par GROUP BY i
),
knn AS (
  SELECT p.i, b.zone_id,
         ROW_NUMBER() OVER (PARTITION BY p.i ORDER BY
            POWER(GREATEST(CAST(b.min_lat AS DOUBLE) - CAST(p.lat AS DOUBLE),
                           CAST(p.lat AS DOUBLE) - CAST(b.max_lat AS DOUBLE), 0), 2)
          + POWER(GREATEST(CAST(b.min_lng AS DOUBLE) - CAST(p.lng AS DOUBLE),
                           CAST(p.lng AS DOUBLE) - CAST(b.max_lng AS DOUBLE), 0), 2),
            b.zone_id) AS rn
  FROM (SELECT co.i, co.lat, co.lng FROM co JOIN res USING (i) WHERE res.rz IS NULL) p
  CROSS JOIN boxes b
),
fin AS (
  SELECT r.i, CAST(COALESCE(r.rz, k.zone_id) AS INTEGER) AS zone_id,
         r.rz IS NULL AS via_knn
  FROM res r LEFT JOIN (SELECT i, zone_id FROM knn WHERE rn = 1) k USING (i)
)
SELECT b.tzid, COUNT(*) AS n_images,
       CAST(SUM(CASE WHEN via_knn THEN 1 ELSE 0 END) AS BIGINT) AS n_via_knn
FROM fin JOIN (SELECT DISTINCT zone_id, tzid FROM boxes) b USING (zone_id)
GROUP BY b.tzid
"""


def q27_full_engine_synthetic(spark, sf_dir):
    """The flagship lookup against the full synthetic zone set (concave,
    holes both decoder-quirk ways, 8k-vertex coastline, oceans, kNN strip):
    per-tzid assignment counts. Now ALSO hash-checked against a DuckDB
    oracle that inlines every ring edge and replays the float32 ray cast in
    SQL (_q27_sql) — plus the original pytest pin vs the float32 oracle."""
    from .datasets import images_from_events
    from .cells import compile_cover
    from .covertable import CoverTables
    from .engine import assign_timezones, zone_dim_df
    from .zones import make_zones

    zones = make_zones(n_coast=8000)
    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)
    assigned = assign_timezones(images_from_events(spark, sf_dir), cov, dim)
    return (
        assigned.groupBy("tzid")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.col("via_knn").cast("long")).alias("n_via_knn"),
        )
        .orderBy("tzid")
    )


def q29_image_features(spark, sf_dir):
    """Multimodal feature extraction (decode -> stats + phash verify),
    partition-local, failure-routed. Value-level oracle: the per-image means
    derive from exact int64 channel sums, which the DuckDB pixel-synthesis
    oracle (_q29_sql) reproduces bit-for-bit — means are emitted UNROUNDED.
    phash_ok is NULL for lossy rows (unverifiable); coalesced to FALSE so
    the compared value is deterministic on both sides."""
    from .imageops import image_features

    f = image_features(_images(spark, sf_dir))
    return f.select(
        "image_id",
        "w",
        "h",
        "mean_r",
        "mean_g",
        "mean_b",
        "mean_luma",
        F.coalesce("phash_ok", F.lit(False)).alias("phash_ok"),
        "decode_failed",
    )


def q30_resize(spark, sf_dir):
    """Nearest-neighbor resize to 8x8 with GPS header preserved. Output =
    re-extracted GPS of the resized blob (header survives) PLUS the resized
    image's exact decoded channel sums — the DuckDB oracle recomputes both
    from first principles (coordinate synthesis + the nearest-neighbor
    gather over synthesized pixels), so the resize CONTENT is value-checked,
    not just the header plumbing."""
    from .engine import extract_gps_udf, gps_header_col
    from .imageops import image_channel_sums, resize_images

    # The join below fans the resized table into two branches (header
    # re-extract + channel sums); persist the 8x8 blobs (~200 B/row) so the
    # synthesize+resize pass runs once, not once per branch.
    r = resize_images(_images(spark, sf_dir), 8, 8).persist()
    g = r.withColumn("g", extract_gps_udf()(gps_header_col(F.col("bytes"))))
    s = image_channel_sums(r)
    return g.select(
        "image_id", "w", "h",
        F.col("g.lat").alias("lat"), F.col("g.lng").alias("lng"),
        F.col("g.gps_ok").alias("gps_ok"),
    ).join(s, "image_id")


def q31_stream_assign(spark, sf_dir):
    """The lookup pipeline executed as a Structured Streaming query
    (Trigger.AvailableNow, memory sink) — must equal the batch answer.

    VALUE-checked since round 4: the stream runs over the 25 nation-box
    zones with the exact q41 engine parameters, so the composed q41 DuckDB
    oracle (coordinate synthesis + f32 argmin containment + clamp-dist kNN)
    applies verbatim, restricted to the stream's output columns — a
    structured-streaming execution gets the same hash gate as the batch
    engine. Coastline-zone streaming stays pinned in tests/test_streaming."""
    import tempfile

    from .engine import assign_timezones, zone_dim_df
    from .queries_geo import box_cover, box_zones
    from .streaming import read_image_stream, run_available_now

    tmp = tempfile.mkdtemp(prefix="tzq31_")
    # 8 input files, 8 files/trigger -> the AvailableNow drain is ONE
    # micro-batch; multi-trigger scheduling is exercised in tests/test_streaming
    _images(spark, sf_dir).coalesce(8).write.mode("overwrite").parquet(
        f"{tmp}/images"
    )
    zones = box_zones(spark, sf_dir)
    dim = zone_dim_df(spark, zones)
    stream = read_image_stream(spark, f"{tmp}/images", per_trigger_files=8)
    assigned = assign_timezones(stream, box_cover(spark, zones), dim, max_res=7).select(
        "image_id", "zone_id", "tzid", "via_knn"
    )
    run_available_now(assigned, f"{tmp}/ckpt", "q31_out")
    return spark.table("q31_out")


def q63_snapshot_time_travel(spark, sf_dir):
    """Iceberg-lite snapshot semantics under the driver's value gate: the
    events table is committed as two snapshots (even event_ids, then an
    append of the odd ones) into a VersionedTable, and the query rolls up
    BOTH — snapshot 1 read via time travel AFTER the append landed. The
    DuckDB oracle recomputes both rollups straight from the source table,
    so a torn append, a stale pointer, or cross-snapshot leakage all
    hash-mismatch (north_rule: Iceberg-snapshot checkpoint semantics)."""
    import tempfile

    from .snapshots import VersionedTable

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id"
    )
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="tzq63_"))
    vt.commit_overwrite(ev.where(F.col("event_id") % 2 == 0))
    vt.commit_append(ev.where(F.col("event_id") % 2 == 1))

    def roll(df, sid):
        return df.agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("event_id").alias("sum_event_id"),
        ).select(
            F.lit(sid).cast("int").alias("snapshot_id"),
            "n_events", "n_users", "sum_event_id",
        )

    return (
        roll(vt.read(snapshot_id=1), 1)
        .unionAll(roll(vt.read(), 2))
        .orderBy("snapshot_id")
    )


Q63_SQL = """
SELECT 1 AS snapshot_id, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(event_id) AS BIGINT) AS sum_event_id
FROM events WHERE event_id % 2 = 0
UNION ALL
SELECT 2, count(*), count(DISTINCT user_id), CAST(sum(event_id) AS BIGINT)
FROM events
ORDER BY snapshot_id
"""


def q92_snapshot_merge(spark, sf_dir):
    """MERGE INTO under the value gate (snapshots.commit_merge, the
    copy-on-write Iceberg strategy): the table starts as the even-id
    events, then one merge UPDATES the id%4==0 rows (value doubled) and
    INSERTS the odd-id rows. The query rolls up the pre-merge snapshot
    (time travel AFTER the merge landed) AND the post-merge table; the
    oracle recomputes both states from the source rows, so a lost update,
    a double-applied insert, phantom rows from the anti-join, or
    cross-snapshot leakage all hash-fail."""
    import tempfile

    from .snapshots import VersionedTable

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="tzq92_"))
    vt.commit_overwrite(ev.where(F.col("event_id") % 2 == 0))
    source = (
        ev.where(F.col("event_id") % 4 == 0)
        .withColumn("value", F.col("value") * 2)
        .unionByName(ev.where(F.col("event_id") % 2 == 1))
    )
    vt.commit_merge(source, ["event_id"])

    def roll(df, sid):
        return df.agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.sum("event_id").alias("sum_event_id"),
        ).select(
            F.lit(sid).cast("int").alias("snapshot_id"),
            "n_events", "sum_value", "sum_event_id",
        )

    return (
        roll(vt.read(snapshot_id=1), 1)
        .unionAll(roll(vt.read(), 2))
        .orderBy("snapshot_id")
    )


Q92_SQL = """
SELECT 1 AS snapshot_id, count(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events WHERE event_id % 2 = 0
UNION ALL
SELECT 2, count(*),
       ROUND(SUM(CASE WHEN event_id % 4 = 0 THEN value * 2 ELSE value END), 4),
       CAST(SUM(event_id) AS BIGINT)
FROM events
ORDER BY snapshot_id
"""


_AHASH_HAM_MAX = 3


def q69_image_ahash_neardup(spark, sf_dir):
    """Perceptual-hash near-duplicate detection over images (aHash + LSH).

    Stage 1 computes the 64-bit average-hash in ONE Arrow pass
    (imageops.image_ahash — the image analog of q16's SimHash signature).
    Stage 2 collapses EXACT hash duplicates with a plain hash groupBy; at
    10^12 images this collapse is mandatory before any pair generation —
    pair-listing raw rows would square the collision groups (this table
    already carries 489-image groups at sf0.01). Stage 3 lists
    near-duplicate pairs among the DISTINCT hashes via banded LSH: each
    16-bit band is an equi-join key (pigeonhole: hamming <= 3 across 4
    bands forces at least one identical band, so recall is EXACT, not
    probabilistic), the precise hamming filter is bit_count(xor), and
    multi-band matches collapse with one distinct over identical rows.
    The DuckDB oracle recomputes the hash from the pixel-synthesis
    arithmetic (integer luma, exact 64*luma > sum compare) and the pairs
    by brute-force cross join over the distinct hashes."""
    from .imageops import image_ahash

    bcols = ["b0", "b1", "b2", "b3"]
    ah = image_ahash(_images(spark, sf_dir).select("image_id", "bytes"))
    # both sides of the band join read `cl`; persist so the Arrow hash
    # kernel provably runs once (the distinct-hash table is tiny)
    cl = ah.groupBy(*bcols).agg(
        F.min("image_id").alias("rep_id"), F.count("*").alias("n_members")
    ).persist()
    bstruct = F.array(
        *[
            F.struct(F.lit(k).alias("band"), F.col(c).alias("val"))
            for k, c in enumerate(bcols)
        ]
    )
    e = cl.select("rep_id", "n_members", *bcols, F.explode(bstruct).alias("bk")).select(
        "rep_id",
        "n_members",
        *bcols,
        F.col("bk.band").alias("band"),
        F.col("bk.val").alias("val"),
    )
    a = e.select(
        F.col("rep_id").alias("rep_a"),
        F.col("n_members").alias("n_a"),
        *[F.col(c).alias(f"{c}_a") for c in bcols],
        "band",
        "val",
    )
    b = e.select(
        F.col("rep_id").alias("rep_b"),
        F.col("n_members").alias("n_b"),
        *[F.col(c).alias(f"{c}_b") for c in bcols],
        "band",
        "val",
    )
    ham = (
        sum(F.expr(f"bit_count({c}_a ^ {c}_b)") for c in bcols)
        .cast("int")
        .alias("hamming")
    )
    return (
        a.join(b, ["band", "val"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b", ham, "n_a", "n_b")
        .where(F.col("hamming") <= _AHASH_HAM_MAX)
        .distinct()
        .orderBy("rep_a", "rep_b")
    )


def _ahash_cl_ctes() -> str:
    """CTE chain lu -> tot -> bits -> hashes -> cl recomputing the aHash
    from the pixel-synthesis arithmetic; shared by the q69 and q81
    oracles."""
    gather = f"""
  SELECT d.i, d.w, d.h, d.fmt, d.phase, oy.v AS oy, ox.v AS ox,
         (oy.v * d.h) // 8 AS y, (ox.v * d.w) // 8 AS x
    FROM ({_DIMS_SQL}) d
    JOIN (SELECT unnest(generate_series(0, 7)) AS v) oy ON TRUE
    JOIN (SELECT unnest(generate_series(0, 7)) AS v) ox ON TRUE"""
    bandsel = ",\n         ".join(
        f"CAST(SUM(CASE WHEN k // 16 = {bx} THEN bit * (CAST(1 AS BIGINT)"
        f" << (k % 16)) ELSE 0 END) AS BIGINT) AS b{bx}"
        for bx in range(4)
    )
    return f"""lu AS (
  SELECT i, oy * 8 + ox AS k,
         CAST(299 * r + 587 * g + 114 * b AS BIGINT) AS luma
  FROM ({_decoded_px_sql(gather)})
),
tot AS (SELECT i, SUM(luma) AS total FROM lu GROUP BY i),
bits AS (
  SELECT lu.i, lu.k,
         CASE WHEN 64 * lu.luma > tot.total THEN 1 ELSE 0 END AS bit
  FROM lu JOIN tot USING (i)
),
hashes AS (
  SELECT 'img' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
         {bandsel}
  FROM bits GROUP BY i
),
cl AS (
  SELECT b0, b1, b2, b3, MIN(image_id) AS rep_id, COUNT(*) AS n_members
  FROM hashes GROUP BY 1, 2, 3, 4
)"""


_AHASH_HAM_SQL = " + ".join(f"bit_count(xor(a.b{bx}, b.b{bx}))" for bx in range(4))


def _q69_sql() -> str:
    return f"""
WITH {_ahash_cl_ctes()}
SELECT a.rep_id AS rep_a, b.rep_id AS rep_b,
       CAST({_AHASH_HAM_SQL} AS INTEGER) AS hamming,
       a.n_members AS n_a, b.n_members AS n_b
FROM cl a JOIN cl b ON a.rep_id < b.rep_id
WHERE {_AHASH_HAM_SQL} <= {_AHASH_HAM_MAX}
ORDER BY rep_a, rep_b
"""


def q81_image_dedup_canonical(spark, sf_dir):
    """Canonical image selection — the image-side q44 (the step an image
    training pipeline runs after near-dup detection: keep ONE image per
    duplicate cluster). Composition: aHash in one Arrow pass -> EXACT-hash
    groups collapse by hash groupBy (mandatory before pair generation;
    this table carries 489-image collision groups) -> banded-LSH near-dup
    pairs among DISTINCT hashes (q69's join, pigeonhole-exact recall at
    hamming <= 3) -> connected components over the rep graph
    (min_label_cc; image ids are fixed-width zero-padded so lexicographic
    min == numeric min) -> every image mapped to its cluster canon.
    Output pins every per-image keep/drop decision (10k rows, not just
    survivors). Scale shape: the full image table is touched by ONE Arrow
    hash pass + one bands groupBy; pair generation, CC, and the canon
    table all run on distinct hashes (tiny), and the final canon attach is
    a broadcast join — no second shuffle of image rows."""
    from .imageops import image_ahash
    from .queries_text import min_label_cc

    bcols = ["b0", "b1", "b2", "b3"]
    ah = image_ahash(_images(spark, sf_dir).select("image_id", "bytes"))
    cl = (
        ah.groupBy(*bcols)
        .agg(F.min("image_id").alias("rep_id"))
        .persist()
    )
    members = (
        ah.select("image_id", *bcols).join(cl, bcols).select("image_id", "rep_id")
    )
    e = cl.select(
        "rep_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("band"), F.col(c).alias("val"))
                    for k, c in enumerate(bcols)
                ]
            )
        ).alias("bk"),
        *bcols,
    ).select("rep_id", F.col("bk.band").alias("band"), F.col("bk.val").alias("val"), *bcols)
    a = e.select(
        F.col("rep_id").alias("rep_a"),
        *[F.col(c).alias(f"{c}_a") for c in bcols],
        "band",
        "val",
    )
    b = e.select(
        F.col("rep_id").alias("rep_b"),
        *[F.col(c).alias(f"{c}_b") for c in bcols],
        "band",
        "val",
    )
    ham = sum(F.expr(f"bit_count({c}_a ^ {c}_b)") for c in bcols)
    pairs = (
        a.join(b, ["band", "val"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .where(ham <= _AHASH_HAM_MAX)
        .select("rep_a", "rep_b")
        .distinct()
    )
    fwd = pairs.select(F.col("rep_a").alias("src"), F.col("rep_b").alias("dst"))
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()
    labels, _rounds = min_label_cc(edges)
    canon = labels.select(
        F.col("doc_id").alias("rep_id"), F.col("canon_id").alias("canon_rep")
    )
    return (
        members.join(F.broadcast(canon), "rep_id", "left")
        .select(
            "image_id",
            F.coalesce("canon_rep", F.col("rep_id")).alias("canon_id"),
        )
        .withColumn("kept", F.col("image_id") == F.col("canon_id"))
        .orderBy("image_id")
    )


def _q81_sql() -> str:
    return f"""
WITH RECURSIVE {_ahash_cl_ctes()},
mem AS (
  SELECT h.image_id, c.rep_id FROM hashes h JOIN cl c USING (b0, b1, b2, b3)
),
pairs AS (
  SELECT a.rep_id AS rep_a, b.rep_id AS rep_b
  FROM cl a JOIN cl b ON a.rep_id < b.rep_id
  WHERE {_AHASH_HAM_SQL} <= {_AHASH_HAM_MAX}
),
edges AS (
  SELECT rep_a AS src, rep_b AS dst FROM pairs
  UNION
  SELECT rep_b, rep_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
lab AS (
  SELECT src AS rep_id, LEAST(src, MIN(dst)) AS canon_rep FROM reach GROUP BY src
)
SELECT m.image_id,
       COALESCE(l.canon_rep, m.rep_id) AS canon_id,
       m.image_id = COALESCE(l.canon_rep, m.rep_id) AS kept
FROM mem m LEFT JOIN lab l USING (rep_id)
ORDER BY image_id
"""


def _q41_assigned(spark, sf_dir):
    """The q41 fused per-image zone assignment (GPS extract -> cover PIP ->
    kNN -> tzid broadcast join) over the 25 nation boxes — shared input
    stage for the downstream analytics operators (q82/q83)."""
    from .engine import assign_timezones, zone_dim_df
    from .queries_geo import box_cover, box_zones

    zones = box_zones(spark, sf_dir)
    dim = zone_dim_df(spark, zones)
    a = assign_timezones(_images(spark, sf_dir), box_cover(spark, zones), dim, max_res=7)
    return a, dim


def q82_local_time_rollup(spark, sf_dir):
    """Zone-local-time analytics — the reason a timezone lookup exists
    (reference README.md:1-10: resolve a coordinate so timestamps can be
    localized). Each image's UTC capture timestamp (events.ts, keyed by
    the event_id embedded in image_id) is shifted to its resolved zone's
    local clock using the solar offset of the zone's center meridian
    (round(center_lng / 15) whole hours — the physical rule civil
    timezones approximate), then activity is rolled up per (zone, local
    hour of day). Plan shape: ONE Arrow pass for the lookup, a broadcast
    join for the 25-row offset dim, a shuffle equi-join on the unique
    event_id for the timestamp attach (both sides huge at 10^12 rows —
    the honest non-broadcast regime), and one partial-aggregated rollup
    bounded by |zones| x 24 output rows. All time arithmetic is JVM-side
    (timestampadd + hour), no Python."""
    a, dim = _q41_assigned(spark, sf_dir)
    off = dim.select(
        "zone_id",
        F.round(((F.col("min_lng") + F.col("max_lng")) / F.lit(2.0)) / F.lit(15.0))
        .cast("int")
        .alias("offset_hours"),
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id"
    )
    keyed = a.select(
        "zone_id",
        "tzid",
        F.substring("image_id", 4, 12).cast("long").alias("event_id"),
    )
    j = keyed.join(ev, "event_id").join(F.broadcast(off), "zone_id")
    loc = j.withColumn("local_ts", F.expr("timestampadd(HOUR, offset_hours, ts)"))
    return (
        loc.groupBy("zone_id", "tzid", F.hour("local_ts").alias("local_hour"))
        .agg(
            F.count("*").alias("n_images"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("zone_id", "local_hour")
    )


def _q82_sql() -> str:
    from .queries_geo import BOXES_SQL

    return f"""
WITH a AS ({Q41_SQL}),
off AS (
  SELECT zone_id,
         CAST(ROUND(((min_lng + max_lng) / 2.0) / 15.0) AS INTEGER) AS offset_hours
  FROM ({BOXES_SQL})
),
j AS (
  SELECT a.zone_id, a.tzid,
         EXTRACT(hour FROM e.ts + o.offset_hours * INTERVAL 1 HOUR) AS local_hour,
         e.user_id
  FROM a
  JOIN events e ON CAST(SUBSTR(a.image_id, 4, 12) AS BIGINT) = e.event_id
  JOIN off o ON a.zone_id = o.zone_id
)
SELECT zone_id, tzid, CAST(local_hour AS INTEGER) AS local_hour,
       COUNT(*) AS n_images,
       COUNT(DISTINCT user_id) AS n_users
FROM j GROUP BY 1, 2, 3
ORDER BY zone_id, local_hour
"""


_ZONE_QUOTA = 300


def q83_zone_quota_sample(spark, sf_dir):
    """Per-zone quota cap — geo-debiasing a training mix: over-represented
    regions (the skewed coastline cells of a web crawl) are capped at a
    fixed per-zone quota, selected by a deterministic content hash so the
    subsample is retry/resume/partition-stable (no RNG state), mirroring
    q49's threshold sampler but with an EXACT per-group count. Output pins
    every per-image keep/drop decision and its rank. Plan shape: one hash
    Exchange on zone_id + one in-partition sort for the row_number window;
    at 10^12 rows a mega-zone makes one partition sort-heavy — the scale
    escape is the q49 pattern (approximate md5-threshold prefilter sized
    to ~quota, then this exact window over the survivors), which this
    operator composes with; the exact window stays the semantic anchor."""
    a, _dim = _q41_assigned(spark, sf_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("zone_id").orderBy(F.md5("image_id"), "image_id")
    return (
        a.select("image_id", "zone_id", "tzid")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("kept", F.col("rk") <= _ZONE_QUOTA)
        .orderBy("image_id")
    )


def _q83_sql() -> str:
    return f"""
WITH a AS ({Q41_SQL}),
r AS (
  SELECT image_id, zone_id, tzid,
         ROW_NUMBER() OVER (
           PARTITION BY zone_id ORDER BY md5(image_id), image_id) AS rk
  FROM a
)
SELECT image_id, zone_id, tzid, CAST(rk AS INTEGER) AS rk,
       rk <= {_ZONE_QUOTA} AS kept
FROM r ORDER BY image_id
"""


def q84_patchify(spark, sf_dir):
    """ViT patch extraction under a value-level oracle: every image cut
    into 8x8 patches with exact int64 per-patch channel sums (the
    patch-embedding input a vision-transformer pipeline computes per
    image). One mapInArrow stage (imageops.patchify): payload gather +
    6-axis reshape fold per shape group, zero per-image Python; only the
    sums table (<= 16 rows/image, 7 narrow columns) leaves the kernel, so
    at 10^12 images the shuffle carries patch stats, never pixels. The
    oracle regenerates every pixel from the synthesis arithmetic and
    groups by (i, y//8, x//8) — integer-exact cross-engine."""
    from .imageops import patchify

    return patchify(_images(spark, sf_dir), patch=8).orderBy(
        "image_id", "py", "px"
    )


def _q84_sql() -> str:
    full_grid = f"""
  SELECT d.i, d.w, d.h, d.fmt, d.phase, sy.v AS y, sx.v AS x
    FROM ({_DIMS_SQL}) d
    JOIN (SELECT unnest(generate_series(0, 31)) AS v) sy ON sy.v < d.h
    JOIN (SELECT unnest(generate_series(0, 31)) AS v) sx ON sx.v < d.w"""
    return f"""
SELECT 'img' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(y // 8 AS INTEGER) AS py,
       CAST(x // 8 AS INTEGER) AS px,
       COUNT(*) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b
FROM ({_decoded_px_sql(full_grid)})
GROUP BY 1, 2, 3
ORDER BY image_id, py, px
"""


def q87_flip_patchify(spark, sf_dir):
    """Horizontal-flip augmentation pinned value-exactly THROUGH the patch
    fold: q84's patch extraction run over imageops.flip_images output. A
    mirrored image's (py, px) patch holds exactly the original's
    (py, gx-1-px) pixel set (w is a multiple of the patch size), so the
    oracle is the pixel-synthesis patch sum with the patch column
    mirrored — any off-by-one in the flip gather, the re-encode, or the
    patch fold hash-fails. Two chained mapInArrow stages (flip -> patch),
    both zero per-image Python; at scale the flip stage streams blobs
    through one batch gather and the patch stage emits only sums."""
    from .imageops import flip_images, patchify

    return patchify(
        flip_images(_images(spark, sf_dir)), patch=8
    ).orderBy("image_id", "py", "px")


def _q87_sql() -> str:
    full_grid = f"""
  SELECT d.i, d.w, d.h, d.fmt, d.phase, sy.v AS y, sx.v AS x
    FROM ({_DIMS_SQL}) d
    JOIN (SELECT unnest(generate_series(0, 31)) AS v) sy ON sy.v < d.h
    JOIN (SELECT unnest(generate_series(0, 31)) AS v) sx ON sx.v < d.w"""
    return f"""
SELECT 'img' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
       CAST(y // 8 AS INTEGER) AS py,
       CAST(w // 8 - 1 - x // 8 AS INTEGER) AS px,
       COUNT(*) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b
FROM ({_decoded_px_sql(full_grid)})
GROUP BY 1, 2, 3
ORDER BY image_id, py, px
"""


_FLAT_STD_X1000 = 20_000  # "flat image" gate: luma std < 20 (x1000 scale)


def q94_image_quality_filter(spark, sf_dir):
    """Image quality curation — the image-side q18 (the LAION-style
    pre-training filter): per-image exact luma moments (one mapInArrow
    gather+fold, imageops.image_luma_moments) drive three gates, ALL in
    integer arithmetic so the cross-engine hash has no float-summation
    exposure: too_dark / too_bright (mean outside [16, 240], compared as
    luma_sum vs bound*n_px*1000) and flat (variance gate: n*sumsq - sum^2
    < std_gate^2 * n^2, exact int64 throughout). Output pins every
    per-image decision plus the raw moments. Scale shape: one payload
    pass, 4 narrow int columns out, no shuffle at all until the
    presentation sort."""
    from .imageops import image_luma_moments

    m = image_luma_moments(_images(spark, sf_dir).select("image_id", "bytes"))
    n, s, sq = F.col("n_px"), F.col("luma_sum"), F.col("luma_sumsq")
    var_num = n * sq - s * s  # = n^2 * variance (x1000^2 scale), exact
    return m.select(
        "image_id",
        "n_px",
        "luma_sum",
        "luma_sumsq",
        (s < 16 * 1000 * n).alias("too_dark"),
        (s > 240 * 1000 * n).alias("too_bright"),
        (var_num < F.lit(_FLAT_STD_X1000) * _FLAT_STD_X1000 * n * n).alias("flat"),
    ).orderBy("image_id")


def _q94_sql() -> str:
    full_grid = f"""
  SELECT d.i, d.w, d.h, d.fmt, d.phase, sy.v AS y, sx.v AS x
    FROM ({_DIMS_SQL}) d
    JOIN (SELECT unnest(generate_series(0, 31)) AS v) sy ON sy.v < d.h
    JOIN (SELECT unnest(generate_series(0, 31)) AS v) sx ON sx.v < d.w"""
    return f"""
WITH m AS (
  SELECT 'img' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
         COUNT(*) AS n_px,
         CAST(SUM(CAST(299 * r + 587 * g + 114 * b AS BIGINT)) AS BIGINT) AS luma_sum,
         CAST(SUM(CAST(299 * r + 587 * g + 114 * b AS BIGINT)
                  * CAST(299 * r + 587 * g + 114 * b AS BIGINT)) AS BIGINT) AS luma_sumsq
  FROM ({_decoded_px_sql(full_grid)})
  GROUP BY 1
)
SELECT image_id, n_px, luma_sum, luma_sumsq,
       luma_sum < 16 * 1000 * n_px AS too_dark,
       luma_sum > 240 * 1000 * n_px AS too_bright,
       n_px * luma_sumsq - luma_sum * luma_sum
         < {_FLAT_STD_X1000}::BIGINT * {_FLAT_STD_X1000} * n_px * n_px AS flat
FROM m ORDER BY image_id
"""


def q97_cluster_metadata(spark, sf_dir):
    """Dedup-cluster metadata reconciliation — the step a curation
    pipeline runs right after canonical selection (q81): for every kept
    cluster, how many members were folded in, how many DISTINCT captions
    they carried (caption conflicts = the metadata-merge problem), and the
    deterministic representative caption (lexicographic min). Composition:
    q81's per-image canon decision + a caption attach + one rollup; the
    oracle re-derives captions from the id arithmetic inside the same
    recursive-CTE closure, so cluster membership AND metadata aggregation
    are hash-checked together. Scale: the caption attach joins on the
    unique image_id and the rollup partial-aggregates per canon."""
    caps = _images(spark, sf_dir).select("image_id", "caption")
    base = q81_image_dedup_canonical(spark, sf_dir)
    return (
        base.join(caps, "image_id")
        .groupBy("canon_id")
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct("caption").alias("n_captions"),
            F.min("caption").alias("canon_caption"),
        )
        .orderBy("canon_id")
    )


def _q97_sql() -> str:
    return f"""
SELECT canon_id,
       COUNT(*) AS n_members,
       COUNT(DISTINCT 'cap ' || CAST(CAST(SUBSTR(image_id, 4, 12) AS BIGINT) AS VARCHAR))
         AS n_captions,
       MIN('cap ' || CAST(CAST(SUBSTR(image_id, 4, 12) AS BIGINT) AS VARCHAR))
         AS canon_caption
FROM ({_q81_sql()})
GROUP BY canon_id
ORDER BY canon_id
"""


_SHARD_CAP = 64 * 1024  # decoded bytes per training shard


def q100_tile_shard_pack(spark, sf_dir):
    """Tile-sharded training-data writer layout — the q51 sequence packer
    for IMAGES: within each spatial tile (the co-access unit a geo model
    trains on), images are laid out in deterministic image_id order and
    the CONCATENATED byte stream is split at fixed 64 KiB shard
    boundaries by DECODED size (3*w*h + header — what the tensor loader
    materializes, invariant to the storage codec), emitting each image's
    (shard index, byte offset) placement. SEMANTICS (explicit): this is
    tar-like contiguous-stream sharding — shard_idx is where an image's
    FIRST byte lands, and an image whose bytes cross the boundary
    straddles two shards (readers use (shard, offset, cost) to span);
    it is NOT greedy whole-blob bin packing, which would need a
    sequential per-tile fold instead of a prefix sum. One hash Exchange
    on cell_id + the in-partition sort for the running sum; the rollup a
    writer needs (files per tile, bytes per shard) derives from this
    table without re-shuffling images. Every per-image placement is
    pinned (10k rows), so an off-by-one in the running sum, the shard
    boundary, or the tile partitioning hash-fails."""
    from pyspark.sql.window import Window

    a, _dim = _q41_assigned(spark, sf_dir)
    cost = (3 * F.col("w") * F.col("h") + 17).cast("long")
    w = Window.partitionBy("cell_id").orderBy("image_id")
    t = a.select("image_id", "cell_id", cost.alias("cost")).withColumn(
        "cum", F.sum("cost").over(w)
    )
    return t.select(
        "image_id",
        "cell_id",
        "cost",
        F.floor((F.col("cum") - F.col("cost")) / _SHARD_CAP)
        .cast("int")
        .alias("shard_idx"),
        ((F.col("cum") - F.col("cost")) % _SHARD_CAP).alias("off_in_shard"),
    ).orderBy("image_id")


def _q100_sql() -> str:
    return f"""
WITH a AS ({Q41_SQL}),
t AS (
  SELECT a.image_id, a.cell_id,
         CAST(3 * d.w * d.h + 17 AS BIGINT) AS cost
  FROM a JOIN ({_DIMS_SQL}) d
    ON CAST(SUBSTR(a.image_id, 4, 12) AS BIGINT) = d.i
),
c AS (
  SELECT image_id, cell_id, cost,
         SUM(cost) OVER (PARTITION BY cell_id ORDER BY image_id) AS cum
  FROM t
)
SELECT image_id, cell_id, cost,
       CAST(FLOOR((cum - cost) / {_SHARD_CAP}) AS INTEGER) AS shard_idx,
       CAST((cum - cost) % {_SHARD_CAP} AS BIGINT) AS off_in_shard
FROM c ORDER BY image_id
"""


def q71_zonal_image_stats(spark, sf_dir):
    """Zonal statistics — the geospatial join and the payload path fused in
    ONE operator: every image resolves to its timezone polygon while the
    same Arrow batch folds its DECODED pixels into exact int64 channel
    sums (engine.zonal_channel_rollup), and one tiny per-zone agg yields
    zone-level image content statistics. Scale shape: one scan, one
    JVM<->Python crossing, shuffle carries ~|zones| rows per batch. The
    oracle composes the q41 per-image zone assignment with the
    pixel-synthesis channel sums — integer-exact all the way, so the
    cross-engine hash match is exact, not approximate."""
    from .engine import zonal_channel_rollup, zone_dim_df
    from .queries_geo import box_cover, box_zones

    zones = box_zones(spark, sf_dir)
    dim = zone_dim_df(spark, zones)
    return zonal_channel_rollup(_images(spark, sf_dir), box_cover(spark, zones), dim).orderBy(
        "zone_id"
    )


def _q71_sql() -> str:
    return f"""
WITH a AS ({Q41_SQL}),
s AS (SELECT 'img' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
             npx, sum_r, sum_g, sum_b
      FROM ({PIXSUMS_SQL}))
SELECT a.zone_id, a.tzid,
       COUNT(*) AS n_images,
       CAST(SUM(CASE WHEN a.via_knn THEN 1 ELSE 0 END) AS BIGINT) AS n_via_knn,
       CAST(SUM(s.npx) AS BIGINT) AS n_pixels,
       CAST(SUM(s.sum_r) AS BIGINT) AS sum_r,
       CAST(SUM(s.sum_g) AS BIGINT) AS sum_g,
       CAST(SUM(s.sum_b) AS BIGINT) AS sum_b,
       CAST(SUM(s.sum_r) AS DOUBLE) / CAST(SUM(s.npx) AS DOUBLE) AS mean_r,
       CAST(SUM(s.sum_g) AS DOUBLE) / CAST(SUM(s.npx) AS DOUBLE) AS mean_g,
       CAST(SUM(s.sum_b) AS DOUBLE) / CAST(SUM(s.npx) AS DOUBLE) AS mean_b
FROM a JOIN s USING (image_id)
GROUP BY a.zone_id, a.tzid
ORDER BY a.zone_id
"""


_SHARP_T = 12_000  # x1000-scaled luma units per neighbor edge; the corpus
# median is ~12_025 (measured sf0.001/sf0.01), so the gate is a real split,
# not a pass-through.


def q103_image_sharpness(spark, sf_dir):
    """Blur/sharpness curation gate — the "discard soft or flat frames"
    stage of an image training pipeline (the quality filter family next to
    q94's moment-based one, but measuring local structure, not global
    spread: a high-variance but smooth gradient image passes q94 and
    fails here). Per image, gradient energy = sum of |Δluma| over all
    horizontal + vertical neighbor pairs of the DECODED pixels, integer
    throughout (imageops.image_gradient_energy); keep iff energy is
    strictly above _SHARP_T per neighbor edge, compared as
    grad_sum > T * n_edges so no float division can flip a decision.
    The DuckDB oracle recomputes the energy from the pixel-synthesis
    arithmetic with two window LAGs over the (i, y, x) grid.

    Scale shape: one mapInArrow pass over the payload (the only stage that
    touches bytes), then pure column ops — at 10^12 images this is a scan,
    no shuffle at all until the caller aggregates."""
    from .imageops import image_gradient_energy

    g = image_gradient_energy(_images(spark, sf_dir).select("image_id", "bytes"))
    return g.select(
        "image_id",
        "n_edges",
        "grad_sum",
        (F.col("grad_sum") > F.lit(_SHARP_T) * F.col("n_edges"))
        .cast("boolean")
        .alias("keep"),
    ).orderBy("image_id")


def _q103_sql() -> str:
    full_grid = f"""
  SELECT d.i, d.w, d.h, d.fmt, d.phase, sy.v AS y, sx.v AS x
    FROM ({_DIMS_SQL}) d
    JOIN (SELECT unnest(generate_series(0, 31)) AS v) sy ON sy.v < d.h
    JOIN (SELECT unnest(generate_series(0, 31)) AS v) sx ON sx.v < d.w"""
    return f"""
WITH lu AS (
  SELECT i, x, y, CAST(299 * r + 587 * g + 114 * b AS BIGINT) AS luma
  FROM ({_decoded_px_sql(full_grid)})
),
gx AS (SELECT i, ABS(luma - LAG(luma) OVER (PARTITION BY i, y ORDER BY x)) AS d FROM lu),
gy AS (SELECT i, ABS(luma - LAG(luma) OVER (PARTITION BY i, x ORDER BY y)) AS d FROM lu),
g AS (
  SELECT i, CAST(SUM(d) AS BIGINT) AS grad_sum
  FROM (SELECT * FROM gx UNION ALL SELECT * FROM gy) GROUP BY i
)
SELECT 'img' || lpad(CAST(d.i AS VARCHAR), 12, '0') AS image_id,
       CAST(d.h * (d.w - 1) + d.w * (d.h - 1) AS BIGINT) AS n_edges,
       g.grad_sum,
       g.grad_sum > {_SHARP_T} * (d.h * (d.w - 1) + d.w * (d.h - 1)) AS keep
FROM ({_DIMS_SQL}) d JOIN g ON g.i = d.i
ORDER BY image_id
"""


_CUT_T = 14_000  # x1000-luma mean-jump per frame pair; corpus median ~13.9k


def q107_scene_cuts(spark, sf_dir):
    """Shot-boundary (scene-cut) detection over frame sequences — the
    video-pipeline operator next to q28's frame sampler: a training
    pipeline cuts clips at visual discontinuities before sampling frames.
    Clips = users; each user's images ordered by capture (ts, event_id)
    form the frame stream (the q82 keying). The classic mean-intensity
    method, integer-exact: per frame the x1000-ITU luma moments (q94's
    one-Arrow-pass kernel), then a LAG window per clip and
    cut iff |mean jump| > T, compared as
    |ls_a*np_b - ls_b*np_a| > T*np_a*np_b — pure int64 cross-multiply, no
    float division anywhere (products bounded by 2*10^11 << 2^63).
    Scale shape: one Arrow moments pass, one equi-join on the unique
    event_id, ONE clip_id Exchange for the window; at 10^12 frames the
    window state is per-clip, never corpus-wide."""
    from pyspark.sql.window import Window

    from .imageops import image_luma_moments

    m = image_luma_moments(_images(spark, sf_dir).select("image_id", "bytes"))
    keyed = m.select(
        F.substring("image_id", 4, 12).cast("long").alias("event_id"),
        F.col("luma_sum").alias("ls"),
        F.col("n_px").alias("np"),
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    fr = keyed.join(ev, "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = fr.select(
        F.col("user_id").alias("clip_id"),
        "event_id",
        "ls",
        "np",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lag("ls").over(w).alias("pls"),
        F.lag("np").over(w).alias("pnp"),
    ).where(F.col("prev_event_id").isNotNull())
    jump = F.abs(F.col("ls") * F.col("pnp") - F.col("pls") * F.col("np"))
    return d.select(
        "clip_id",
        "event_id",
        "prev_event_id",
        jump.alias("jump_num"),
        (F.col("np") * F.col("pnp")).alias("jump_den"),
        (jump > F.lit(_CUT_T) * F.col("np") * F.col("pnp")).alias("is_cut"),
    ).orderBy("clip_id", "event_id")


def _q107_sql() -> str:
    return f"""
WITH s AS ({PIXSUMS_SQL}),
lu AS (
  SELECT i, CAST(299 * sum_r + 587 * sum_g + 114 * sum_b AS BIGINT) AS ls,
         CAST(npx AS BIGINT) AS np
  FROM s
),
fr AS (
  SELECT e.user_id, e.ts, e.event_id, l.ls, l.np
  FROM events e JOIN lu l ON l.i = e.event_id
),
d AS (
  SELECT user_id AS clip_id, event_id, ls, np,
         LAG(event_id) OVER w AS prev_event_id,
         LAG(ls) OVER w AS pls, LAG(np) OVER w AS pnp
  FROM fr WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT clip_id, event_id, prev_event_id,
       ABS(ls * pnp - pls * np) AS jump_num,
       np * pnp AS jump_den,
       ABS(ls * pnp - pls * np) > {_CUT_T} * np * pnp AS is_cut
FROM d WHERE prev_event_id IS NOT NULL
ORDER BY clip_id, event_id
"""


_BRIGHT_T = 128_000  # x1000-luma mean; corpus median ~127.5k


def q109_daylight_consistency(spark, sf_dir):
    """Daylight-consistency validation — the geo x image CROSS-MODAL check
    a geotagged training corpus runs to catch wrong/spoofed GPS or
    timestamps: an image whose resolved zone-local solar time says deep
    night but whose pixels are bright is metadata-suspect. Composition:
    the fused zone assignment (q41 path), the q82 solar-offset local
    clock, and the q94 luma moments — three existing kernels, one new
    decision. bright = luma_sum > B*n_px (integer, x1000 units); night =
    local_hour in [22, 4); suspect = night AND bright. Scale shape: one
    Arrow moments pass + the assignment's one Arrow probe, equi-join on
    the unique image key, broadcast 25-row offset dim; the rollup-free
    per-image output keeps every decision pinned."""
    a, dim = _q41_assigned(spark, sf_dir)
    off = dim.select(
        "zone_id",
        F.round(((F.col("min_lng") + F.col("max_lng")) / F.lit(2.0)) / F.lit(15.0))
        .cast("int")
        .alias("offset_hours"),
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "ts")
    from .imageops import image_luma_moments

    m = image_luma_moments(_images(spark, sf_dir).select("image_id", "bytes"))
    keyed = a.select(
        "image_id",
        "zone_id",
        F.substring("image_id", 4, 12).cast("long").alias("event_id"),
    )
    j = (
        keyed.join(ev, "event_id")
        .join(F.broadcast(off), "zone_id")
        .join(m, "image_id")
        .withColumn("local_ts", F.expr("timestampadd(HOUR, offset_hours, ts)"))
        .withColumn("local_hour", F.hour("local_ts"))
    )
    bright = F.col("luma_sum") > F.lit(_BRIGHT_T) * F.col("n_px")
    night = (F.col("local_hour") >= 22) | (F.col("local_hour") < 4)
    return j.select(
        "image_id",
        "zone_id",
        "local_hour",
        "luma_sum",
        F.col("n_px").cast("long").alias("n_px"),
        bright.alias("bright"),
        night.alias("night"),
        (bright & night).alias("suspect"),
    ).orderBy("image_id")


def _q109_sql() -> str:
    from .queries_geo import BOXES_SQL

    return f"""
WITH a AS ({Q41_SQL}),
off AS (
  SELECT zone_id,
         CAST(ROUND(((min_lng + max_lng) / 2.0) / 15.0) AS INTEGER) AS offset_hours
  FROM ({BOXES_SQL})
),
s AS ({PIXSUMS_SQL}),
lu AS (
  SELECT 'img' || lpad(CAST(i AS VARCHAR), 12, '0') AS image_id,
         CAST(299 * sum_r + 587 * sum_g + 114 * sum_b AS BIGINT) AS luma_sum,
         CAST(npx AS BIGINT) AS n_px
  FROM s
),
j AS (
  SELECT a.image_id, a.zone_id, l.luma_sum, l.n_px,
         CAST(EXTRACT(hour FROM e.ts + o.offset_hours * INTERVAL 1 HOUR)
              AS INTEGER) AS local_hour
  FROM a
  JOIN events e ON CAST(SUBSTR(a.image_id, 4, 12) AS BIGINT) = e.event_id
  JOIN off o ON a.zone_id = o.zone_id
  JOIN lu l ON l.image_id = a.image_id
)
SELECT image_id, zone_id, local_hour, luma_sum, n_px,
       luma_sum > {_BRIGHT_T} * n_px AS bright,
       (local_hour >= 22 OR local_hour < 4) AS night,
       (luma_sum > {_BRIGHT_T} * n_px AND (local_hour >= 22 OR local_hour < 4))
         AS suspect
FROM j
ORDER BY image_id
"""


EXTRA_QUERIES = {
    "q24_extract_gps": q24_extract_gps,
    "q107_scene_cuts": q107_scene_cuts,
    "q109_daylight_consistency": q109_daylight_consistency,
    "q41_full_engine_boxes": q41_full_engine_boxes,
    "q42_full_engine_boxes_join": q42_full_engine_boxes_join,
    "q25_psnr_invariant": q25_psnr_invariant,
    "q26_tile_raster": q26_tile_raster,
    "q27_full_engine_synthetic": q27_full_engine_synthetic,
    "q29_image_features": q29_image_features,
    "q30_resize": q30_resize,
    "q31_stream_assign": q31_stream_assign,
    "q63_snapshot_time_travel": q63_snapshot_time_travel,
    "q69_image_ahash_neardup": q69_image_ahash_neardup,
    "q71_zonal_image_stats": q71_zonal_image_stats,
    "q81_image_dedup_canonical": q81_image_dedup_canonical,
    "q82_local_time_rollup": q82_local_time_rollup,
    "q83_zone_quota_sample": q83_zone_quota_sample,
    "q84_patchify": q84_patchify,
    "q87_flip_patchify": q87_flip_patchify,
    "q92_snapshot_merge": q92_snapshot_merge,
    "q94_image_quality_filter": q94_image_quality_filter,
    "q97_cluster_metadata": q97_cluster_metadata,
    "q100_tile_shard_pack": q100_tile_shard_pack,
    "q103_image_sharpness": q103_image_sharpness,
}
EXTRA_ORACLES["q63_snapshot_time_travel"] = Q63_SQL
EXTRA_ORACLES["q92_snapshot_merge"] = Q92_SQL
EXTRA_ORACLES["q69_image_ahash_neardup"] = _q69_sql()
EXTRA_ORACLES["q81_image_dedup_canonical"] = _q81_sql()
EXTRA_ORACLES["q82_local_time_rollup"] = _q82_sql()
EXTRA_ORACLES["q83_zone_quota_sample"] = _q83_sql()
EXTRA_ORACLES["q84_patchify"] = _q84_sql()
EXTRA_ORACLES["q87_flip_patchify"] = _q87_sql()
EXTRA_ORACLES["q94_image_quality_filter"] = _q94_sql()
EXTRA_ORACLES["q97_cluster_metadata"] = _q97_sql()
EXTRA_ORACLES["q100_tile_shard_pack"] = _q100_sql()
EXTRA_ORACLES["q71_zonal_image_stats"] = _q71_sql()
EXTRA_ORACLES["q103_image_sharpness"] = _q103_sql()
EXTRA_ORACLES["q107_scene_cuts"] = _q107_sql()
EXTRA_ORACLES["q109_daylight_consistency"] = _q109_sql()

# _q27_sql needs the definitions above; register it after the dict literals.
EXTRA_ORACLES["q27_full_engine_synthetic"] = _q27_sql()
