"""Streaming front-end: the batch operators run unchanged on a stream;
windowed tile counts with watermark; results equal the batch answers."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tzspark.cells import compile_cover
from tzspark.covertable import CoverTables
from tzspark.datasets import images_df
from tzspark.engine import assign_timezones, zone_dim_df
from tzspark.streaming import (
    read_image_stream,
    run_available_now,
    stream_tile_counts,
)
from tzspark.zones import make_zones

N = 240


@pytest.fixture(scope="module")
def zones():
    return make_zones(n_coast=2000)


@pytest.fixture(scope="module")
def image_dir(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("imgstream") / "images")
    images_df(spark, N, partitions=6).write.parquet(p)
    return p


def test_stream_assign_equals_batch(spark, zones, image_dir, tmp_path):
    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)
    stream = read_image_stream(spark, image_dir, per_trigger_files=2)
    assert stream.isStreaming
    assigned = assign_timezones(stream, cov, dim).select(
        "image_id", "zone_id", "tzid", "via_knn"
    )
    q = run_available_now(assigned, str(tmp_path / "ckpt"), "stream_out")
    out = spark.table("stream_out").toPandas().sort_values("image_id")
    batch = (
        assign_timezones(spark.read.parquet(image_dir), cov, dim)
        .select("image_id", "zone_id", "tzid", "via_knn")
        .toPandas()
        .sort_values("image_id")
    )
    assert len(out) == N
    np.testing.assert_array_equal(
        out["zone_id"].to_numpy(), batch["zone_id"].to_numpy()
    )
    assert (out["tzid"].to_numpy() == batch["tzid"].to_numpy()).all()
    assert q.lastProgress is not None


def test_stream_windowed_tile_counts(spark, zones, image_dir, tmp_path):
    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)
    stream = read_image_stream(spark, image_dir, per_trigger_files=3)
    # deterministic event time derived from the row index
    assigned = assign_timezones(stream, cov, dim).withColumn(
        "event_ts",
        F.to_timestamp(
            F.lit("2024-01-01 00:00:00")
        )
        + F.make_interval(mins=F.substring("image_id", 4, 12).cast("long") % 60),
    )
    tiles = stream_tile_counts(assigned, window="10 minutes", watermark="5 minutes")
    run_available_now(tiles, str(tmp_path / "ckpt2"), "tile_out")
    pdf = spark.table("tile_out").toPandas()
    assert pdf["n_images"].sum() == N  # nothing dropped (no late data here)
    assert pdf["window_start"].nunique() == 6  # 60 minutes / 10-minute windows


def test_stream_stateful_dedup(spark, zones, image_dir, tmp_path):
    """Duplicate deliveries across triggers are dropped by the state store."""
    from tzspark.streaming import stream_dedup

    # duplicate the input: same rows written twice as separate files
    dup_dir = str(tmp_path / "dup")
    base = spark.read.parquet(image_dir)
    base.write.parquet(dup_dir)
    base.write.mode("append").parquet(dup_dir)
    assert spark.read.parquet(dup_dir).count() == 2 * N

    stream = read_image_stream(spark, dup_dir, per_trigger_files=3)
    deduped = stream_dedup(stream).select("image_id")
    run_available_now(deduped, str(tmp_path / "ckpt3"), "dedup_out")
    out = spark.table("dedup_out").toPandas()
    assert len(out) == N
    assert out["image_id"].nunique() == N


def test_stream_dedup_within_watermark(spark, image_dir, tmp_path):
    """Watermarked dedup variant: same exactly-once result on a bounded
    backfill, with state eviction bounded by the lateness horizon."""
    from tzspark.streaming import stream_dedup

    dup_dir = str(tmp_path / "dupw")
    base = spark.read.parquet(image_dir)
    base.write.parquet(dup_dir)
    base.write.mode("append").parquet(dup_dir)

    stream = read_image_stream(spark, dup_dir, per_trigger_files=3).withColumn(
        "event_ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(mins=F.substring("image_id", 4, 12).cast("long") % 60),
    )
    deduped = stream_dedup(
        stream, ts_col="event_ts", watermark="2 hours"
    ).select("image_id")
    run_available_now(deduped, str(tmp_path / "ckptw"), "dedup_wm_out")
    out = spark.table("dedup_wm_out").toPandas()
    assert len(out) == N and out["image_id"].nunique() == N


def test_stream_assign_join_equals_batch(spark, tmp_path):
    """The image lookup without tzid, run as a stream over the same files,
    equals the batch assign_images_via_join row for row."""
    from tzspark.covertable import assign_images_via_join
    from tzspark.datasets import images_from_events
    from tzspark.queries_geo import box_zones
    from tzspark.streaming import read_image_stream, stream_assign_join

    sf = "/root/testdata/sf0.001"
    imgs = images_from_events(spark, sf)
    src = str(tmp_path / "images")
    imgs.write.mode("overwrite").parquet(src)
    cov = CoverTables.from_index(
        spark, compile_cover(box_zones(spark, sf), base_res=3, max_res=7)
    )
    out = str(tmp_path / "out")
    stream_assign_join(
        read_image_stream(spark, src, per_trigger_files=3),
        cov,
        out,
        str(tmp_path / "ckpt"),
    )
    got = (
        spark.read.parquet(out)
        .select("image_id", "zone_id", "via_knn")
        .toPandas()
        .set_index("image_id")
        .sort_index()
    )
    want = (
        assign_images_via_join(imgs, cov)
        .select("image_id", "zone_id", "via_knn")
        .toPandas()
        .set_index("image_id")
        .sort_index()
    )
    assert len(got) == len(want)
    assert (got["zone_id"] == want["zone_id"]).all()
    assert (got["via_knn"] == want["via_knn"]).all()


def test_stream_sessionize_closed_sessions_equal_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: every CLOSED session emitted by
    the stream equals the batch q46_sessionize row (a session closes when
    its user's next session starts, so the batch's last session per user is
    exactly the still-open state)."""
    import os

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tzspark.queries_text import q46_sessionize
    from tzspark.streaming import run_available_now, stream_sessionize

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")

    # time-ordered single-file chunks with increasing mtimes, so the file
    # stream delivers per-user events in event-time order across triggers
    # (the operator's documented arrival contract)
    pdf = ev.toPandas().sort_values("ts").reset_index(drop=True)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # parquet TIMESTAMP_NTZ(us)
    d = str(tmp_path / "evstream")
    os.makedirs(d)
    for i, chunk in enumerate(np.array_split(pdf, 6)):
        p = f"{d}/chunk{i:02d}.parquet"
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), p)
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    run_available_now(
        stream_sessionize(stream),
        str(tmp_path / "ckpt"),
        "sess_stream_out",
        output_mode="append",
    )
    got = (
        spark.table("sess_stream_out")
        .toPandas()
        .sort_values(["user_id", "session_idx"])
        .reset_index(drop=True)
    )

    batch = q46_sessionize(spark, sf).toPandas()
    last = batch.groupby("user_id")["session_idx"].transform("max")
    want = (
        batch[batch["session_idx"] < last]
        .sort_values(["user_id", "session_idx"])
        .reset_index(drop=True)
    )

    assert len(got) > 50  # the fixture really exercises multi-session users
    pd.testing.assert_frame_equal(
        got[["user_id", "session_idx", "session_start", "session_end",
             "n_events", "n_purchases"]],
        want[["user_id", "session_idx", "session_start", "session_end",
              "n_events", "n_purchases"]],
        check_dtype=False,
    )
    np.testing.assert_allclose(
        got["total_value"].to_numpy(), want["total_value"].to_numpy(),
        rtol=0, atol=1e-9,
    )


def test_stream_zone_transitions_equal_batch(spark, tmp_path):
    """Stateful geofence transitions: a multi-trigger AvailableNow drain
    emits exactly the batch q65 rows — including transitions whose two
    events arrive in DIFFERENT triggers (the state-store crossing)."""
    import os

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tzspark.engine import assign_udf, with_contained_zone
    from tzspark.queries_geo import box_zones, q65_zone_transitions
    from tzspark.streaming import run_available_now, stream_zone_transitions

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")

    # time-ordered single-file chunks (per-user ordered arrival contract)
    pdf = ev.toPandas().sort_values("ts").reset_index(drop=True)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    d = str(tmp_path / "evstream")
    os.makedirs(d)
    for i, chunk in enumerate(np.array_split(pdf, 6)):
        p = f"{d}/chunk{i:02d}.parquet"
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), p)
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    zones = box_zones(spark, sf)
    cov = CoverTables.from_index(spark, compile_cover(zones, base_res=3, max_res=7))
    stream = with_contained_zone(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .select(
            "user_id",
            "event_id",
            "ts",
            ((F.col("user_id") * 7 % 180) - 90 + F.col("value") / 1e6).alias("lat"),
            ((F.col("event_id") * 13 % 360) - 180).cast("double").alias("lng"),
        ),
        assign_udf(cov),
    )
    run_available_now(
        stream_zone_transitions(stream),
        str(tmp_path / "ckpt"),
        "trans_stream_out",
        output_mode="append",
    )
    got = (
        spark.table("trans_stream_out")
        .toPandas()
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    want = q65_zone_transitions(spark, sf).toPandas().reset_index(drop=True)
    assert len(want) > 20
    pd.testing.assert_frame_equal(
        got[["user_id", "event_id", "from_zone", "to_zone"]],
        want[["user_id", "event_id", "from_zone", "to_zone"]],
        check_dtype=False,
    )
