"""Round-5 operators: sharpness gate (q103), GIS dissolve (q104),
trajectory resample (q105), boundary distance (q106) — crafted fixtures
with hand-computed expectations (the sf0.01 value check is the driver's
DuckDB oracle; these pin the SEMANTICS on inputs small enough to verify
by eye)."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from tzspark.datasets import IMAGES_SCHEMA
from tzspark.imageops import _encode_raw, image_gradient_energy

# ---------------------------------------------------------------------------
# q103: gradient energy
# ---------------------------------------------------------------------------


def _img_row(img_id, pix):
    return (img_id, bytearray(_encode_raw(0.0, 0.0, pix)),
            pix.shape[1], pix.shape[0], "raw", "c", 0)


def test_gradient_energy_flat_is_zero(spark):
    """A constant image has zero gradient energy — the canonical 'flat
    frame a curation gate must drop'."""
    pix = np.full((4, 4, 3), 77, np.uint8)
    df = spark.createDataFrame([_img_row("flat", pix)], IMAGES_SCHEMA)
    out = image_gradient_energy(df).collect()[0]
    assert out["grad_sum"] == 0
    assert out["n_edges"] == 4 * 3 + 4 * 3


def test_gradient_energy_hand_computed_step():
    """2x2 with one bright pixel: luma jumps are exactly the x1000 ITU
    deltas along the three neighbor edges that cross the step."""
    pix = np.zeros((2, 2, 3), np.uint8)
    pix[0, 0] = (255, 255, 255)  # luma 255000; others 0
    # edges: (0,0)-(0,1) horiz, (0,0)-(1,0) vert cross the step; (0,1)-(1,1)
    # and (1,0)-(1,1) are 0-0
    expected = 255 * (299 + 587 + 114) * 2
    got = _luma_grad(pix)
    assert got == expected


def _luma_grad(pix):
    p = pix.astype(np.int64)
    luma = 299 * p[..., 0] + 587 * p[..., 1] + 114 * p[..., 2]
    return int(np.abs(np.diff(luma, axis=1)).sum()
               + np.abs(np.diff(luma, axis=0)).sum())


def test_gradient_energy_spark_matches_numpy(spark):
    """Engine kernel == direct numpy on the same crafted pixels, across
    mixed shapes in one batch (the shape-group gather must not mix rows)."""
    rng = np.random.default_rng(5)
    rows, want = [], {}
    for k, (h, w) in enumerate([(4, 6), (6, 4), (4, 6)]):
        pix = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        want[f"g{k}"] = _luma_grad(pix)
        rows.append(_img_row(f"g{k}", pix))
    df = spark.createDataFrame(rows, IMAGES_SCHEMA)
    got = {r["image_id"]: r["grad_sum"]
           for r in image_gradient_energy(df).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# q104: dissolve semantics
# ---------------------------------------------------------------------------


def test_dissolve_components_structure(spark):
    """The sf0.01 lattice dissolve: 13 components (3x 3-zone, 6x 2-zone,
    4 singletons — precomputed union-find over the (zone_id*3) div 7
    classes), every zone in exactly one component, and each component's
    bbox is the union of its members."""
    from tzspark.queries_geo import q104_zone_dissolve

    out = q104_zone_dissolve(spark, "/root/testdata/sf0.01").toPandas()
    assert len(out) == 13
    sizes = sorted(out["n_zones"].tolist(), reverse=True)
    assert sizes == [3, 3, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1]
    assert out["n_zones"].sum() == 25
    # the dissolve label is the min member id, so it must lie inside the
    # merged bbox's class
    assert (out["dissolve_id"] * 3 // 7 == out["zclass"]).all()


def test_dissolve_corner_touch_excluded(spark):
    """Two boxes meeting only at a corner must NOT merge (positive-length
    shared edge required). Zones 0 (row0,col0) and 6 (row1,col1) touch at
    exactly one point and share class 0 ((0*3)//7 == (6*3)//7 == 0...) —
    verify via the component table that they are not co-labeled unless a
    chain connects them."""
    from tzspark.queries_geo import q104_zone_dissolve

    out = q104_zone_dissolve(spark, "/root/testdata/sf0.01").toPandas()
    # zone 0: class 0; zone 6: (18)//7 = 2 -> different class anyway; use
    # zones 1 (row1,col0, class 0) and 5 (row0,col1, class 2): corner
    # neighbors, different classes. The structural check: no component's
    # bbox is larger than the union of row/col-contiguous members — i.e.
    # every 2-zone component spans exactly 12x40, 24x20, or equivalent
    # contiguous shapes, never a diagonal 24x40.
    two = out[out["n_zones"] == 2]
    for _, r in two.iterrows():
        dlat = r["max_lat"] - r["min_lat"]
        dlng = r["max_lng"] - r["min_lng"]
        assert (dlat, dlng) in {(12.0, 40.0), (24.0, 20.0)}, (
            f"diagonal (corner-only) merge leaked: {r.to_dict()}"
        )


# ---------------------------------------------------------------------------
# q105: trajectory resample
# ---------------------------------------------------------------------------


def test_resample_lerp_hand_case(spark):
    """Two fixes 3 h apart starting mid-hour: grid points at the three
    enclosed hour boundaries, positions exactly linear."""
    from tzspark.queries_geo import q105_trajectory_resample

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 30), 7, "t", 0.0, "p"),
        (2, dt.datetime(2024, 1, 1, 3, 30), 7, "t", 0.0, "p"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = q105_trajectory_resample(spark, d).toPandas()
    # fixes: lat = (7*7%180)-90 = -41 (both), lng = (1*13%360)-180 = -167
    # and (2*13%360)-180 = -154; grid at 01:00, 02:00, 03:00 -> frac
    # 1/6, 3/6, 5/6
    assert len(out) == 3
    assert out["lat"].tolist() == [-41.0, -41.0, -41.0]
    want_lng = [-167 + f * 13 for f in (1 / 6, 3 / 6, 5 / 6)]
    assert out["lng"].tolist() == pytest.approx(want_lng, abs=1e-6)
    h = 3_600_000_000
    base = int(dt.datetime(2024, 1, 1, 1, 0).timestamp()) * 1_000_000
    # ts written as NTZ micros; grid epochs are exact hour multiples
    assert [t % h for t in out["t_grid"]] == [0, 0, 0]


def test_resample_fix_on_boundary_half_open(spark):
    """A fix exactly ON an hour boundary: the boundary belongs to the
    EARLIER segment (half-open (t0, t1]) — emitted once with frac 1.0,
    never duplicated by the following segment."""
    from tzspark.queries_geo import q105_trajectory_resample

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 30), 3, "t", 0.0, "p"),
        (2, dt.datetime(2024, 1, 1, 2, 0), 3, "t", 0.0, "p"),
        (3, dt.datetime(2024, 1, 1, 2, 45), 3, "t", 0.0, "p"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = q105_trajectory_resample(spark, d).toPandas()
    h = 3_600_000_000
    grids = sorted(out["t_grid"].tolist())
    assert len(grids) == len(set(grids)), "boundary grid point duplicated"
    assert len(grids) == 2  # 01:00 and 02:00; (02:00, 02:45] holds none
    # the 02:00 sample interpolates to exactly the second fix's lng
    at2 = out[out["t_grid"] % h == 0].sort_values("t_grid").iloc[-1]
    assert at2["lng"] == pytest.approx((2 * 13 % 360) - 180, abs=1e-6)


# ---------------------------------------------------------------------------
# q106: boundary distance
# ---------------------------------------------------------------------------


def test_boundary_distance_semantics(spark, tmp_path):
    """sf0.01 run: every distance is within [0, half box diagonal axis),
    the labeled edge is consistent with the recomputed per-edge distances,
    and exact W/E ties (integer lng grid) resolve to W (the documented
    S<N<W<E priority).

    Crafted fixture: points whose float64 lat sits 1e-9 below a box edge
    and rounds onto it in float32. The engine resolves in float32: the
    point under box 0's min_lat (-30) lands IN box 0 with d_s = -1e-9, the
    one under box 0's max_lat (-18) lands in box 1, and the one under the
    top row's max_lat (30) lands in no box. Q106_SQL joins boxes on the
    same float32 containment (_CONTAIN_F32), so it agrees row for row; a
    float64 join would leave the first point out and put the second in box
    0 and the third in box 9."""
    import duckdb
    import pandas as pd

    from tzspark.queries_geo import Q106_SQL, boxes_df, pts_df, q106_boundary_distance

    out = q106_boundary_distance(spark, "/root/testdata/sf0.01")
    pts = pts_df(spark, "/root/testdata/sf0.01")
    b = boxes_df(spark, "/root/testdata/sf0.01")
    j = (
        out.join(pts, "event_id")
        .join(b, "zone_id")
        .withColumn("d_s", F.col("lat") - F.col("min_lat"))
        .withColumn("d_n", F.col("max_lat") - F.col("lat"))
        .withColumn("d_w", F.col("lng") - F.col("min_lng"))
        .withColumn("d_e", F.col("max_lng") - F.col("lng"))
    ).toPandas()
    assert len(j) > 0
    dmin = j[["d_s", "d_n", "d_w", "d_e"]].min(axis=1)
    assert np.allclose(j["dist_edge"], dmin.round(6))
    # labeled edge achieves the min
    lab = j[["d_s", "d_n", "d_w", "d_e"]].to_numpy()
    k = {"S": 0, "N": 1, "W": 2, "E": 3}
    picked = lab[np.arange(len(j)), [k[e] for e in j["edge"]]]
    assert np.allclose(picked, dmin)
    # ties: wherever d_w == d_e < min(d_s, d_n), the label must be W
    tie = (j["d_w"] == j["d_e"]) & (j["d_w"] < j[["d_s", "d_n"]].min(axis=1))
    if tie.any():
        assert (j.loc[tie, "edge"] == "W").all()
    assert (j["margin_alert"] == (dmin < 1.0)).all()

    # pts_df: lat = (user_id * 7 % 180) - 90 + value / 1e6,
    #         lng = (event_id * 13 % 360) - 180
    # box k: lat [(k % 5) * 12 - 30, +12), lng [(k // 5) * 20 - 50, +20)
    events = pd.DataFrame({
        "event_id": np.array([260, 11, 12, 13], np.int64),  # lng -40, -37, -24, -11
        "user_id": np.array([60, 36, 65, 120], np.int64),  # lat -30, -18, 5, 30
        "value": [-1e-3, -1e-3, 0.0, -1e-3],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"N{k}" for k in range(25)],
    })
    d = tmp_path / "sf"
    d.mkdir()
    events.to_parquet(d / "events.parquet", index=False)
    nation.to_parquet(d / "nation.parquet", index=False)

    got = q106_boundary_distance(spark, str(d)).toPandas()
    con = duckdb.connect()
    for t in ("events", "nation"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    want = con.sql(Q106_SQL).df()

    assert got["event_id"].tolist() == [11, 12, 260]
    assert got["zone_id"].tolist() == [1, 7, 0]
    assert got["edge"].tolist() == ["S", "N", "S"]
    assert got["dist_edge"].tolist() == [0.0, 1.0, 0.0]
    assert got["event_id"].tolist() == want["event_id"].tolist()
    assert got["zone_id"].tolist() == want["zone_id"].tolist()
    assert got["edge"].tolist() == want["edge"].tolist()
    assert got["margin_alert"].tolist() == want["margin_alert"].tolist()
    assert got["dist_edge"].tolist() == want["dist_edge"].tolist()


# ---------------------------------------------------------------------------
# q107: scene cuts
# ---------------------------------------------------------------------------


def test_scene_cut_decision_matches_pandas(spark):
    """Engine flags == a pandas recompute from the same moments kernel:
    per clip ordered by (ts, event_id), |mean-luma jump| > T via the
    integer cross-multiply (no float division on either side)."""
    import pandas as pd

    from tzspark.imageops import image_luma_moments
    from tzspark.queries_extra import _CUT_T, _images, q107_scene_cuts

    sf = "/root/testdata/sf0.01"
    out = q107_scene_cuts(spark, sf).toPandas()
    m = image_luma_moments(_images(spark, sf).select("image_id", "bytes")).toPandas()
    m["event_id"] = m["image_id"].str[3:].astype("int64")
    ev = pd.read_parquet(f"{sf}/events.parquet")[["event_id", "user_id", "ts"]]
    fr = m.merge(ev, on="event_id").sort_values(["user_id", "ts", "event_id"])
    g = fr.groupby("user_id")
    fr["pls"] = g["luma_sum"].shift()
    fr["pnp"] = g["n_px"].shift()
    fr = fr.dropna(subset=["pls"])
    jump = (fr["luma_sum"] * fr["pnp"].astype("int64")
            - fr["pls"].astype("int64") * fr["n_px"]).abs()
    want = jump > _CUT_T * fr["n_px"] * fr["pnp"].astype("int64")
    got = out.set_index("event_id")["is_cut"]
    assert len(out) == len(fr)
    assert (got.loc[fr["event_id"]].to_numpy() == want.to_numpy()).all()
    # non-degenerate: both classes present
    assert 0 < out["is_cut"].sum() < len(out)


# ---------------------------------------------------------------------------
# q108: unigram surprisal
# ---------------------------------------------------------------------------


def test_surprisal_hand_computed(spark, tmp_path):
    """3 docs over a 2-word vocab: surprisal per token is exactly
    log2(N/cnt) and the per-doc average matches by hand."""
    import math
    import os

    from tzspark.queries_text import q108_unigram_surprisal

    docs = [
        (1, "a a a a", "en", "s", 7),
        (2, "a a b b", "en", "s", 7),
        (3, "b a a a", "en", "s", 7),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = q108_unigram_surprisal(spark, d).toPandas().set_index("doc_id")
    # N=12, cnt(a)=9, cnt(b)=3
    sa, sb = math.log2(12 / 9), math.log2(12 / 3)
    want = {1: sa, 2: (2 * sa + 2 * sb) / 4, 3: (3 * sa + sb) / 4}
    for doc, w in want.items():
        assert out.loc[doc, "avg_surprisal"] == round(w, 6)
        assert out.loc[doc, "n_tokens"] == 4
    # doc 2 (more rare tokens) must score strictly higher than doc 1
    assert out.loc[2, "avg_surprisal"] > out.loc[1, "avg_surprisal"]


# ---------------------------------------------------------------------------
# q109: daylight consistency
# ---------------------------------------------------------------------------


def test_daylight_consistency_invariants(spark):
    """suspect == night AND bright exactly; hours in [0, 24); bright agrees
    with the integer mean-luma compare; both populated classes exist."""
    from tzspark.queries_extra import _BRIGHT_T, q109_daylight_consistency

    out = q109_daylight_consistency(spark, "/root/testdata/sf0.01").toPandas()
    assert len(out) == 10000
    assert out["local_hour"].between(0, 23).all()
    night = (out["local_hour"] >= 22) | (out["local_hour"] < 4)
    bright = out["luma_sum"] > _BRIGHT_T * out["n_px"]
    assert (out["night"] == night).all()
    assert (out["bright"] == bright).all()
    assert (out["suspect"] == (night & bright)).all()
    assert 0 < out["suspect"].sum() < len(out)


# ---------------------------------------------------------------------------
# substring_dup_spans (q101 core, shared with the bench row)
# ---------------------------------------------------------------------------


def test_substring_spans_crafted(spark):
    """Two docs sharing one 5-token run (k=3): the maximal island must be
    exactly that run in both docs, at their different positions; the
    unique tails contribute nothing."""
    from tzspark.queries_text import substring_dup_spans

    shared = "a b c d e"
    docs = [
        (1, f"x1 x2 {shared} x3 x4"),     # shared at tokens 3..7
        (2, f"{shared} y1 y2 y3 y4 y5"),  # shared at tokens 1..5
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r["doc_id"]): (r["span_start"], r["span_end"], r["span_tokens"])
           for r in substring_dup_spans(df, 3).collect()}
    assert out == {1: (3, 7, 5), 2: (1, 5, 5)}
