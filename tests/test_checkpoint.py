"""Checkpoint/resume: stage snapshots, lineage manifests, kill/rerun."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tzspark.checkpoint import SnapshotRunner, run_resumable
from tzspark.datasets import images_df
from tzspark.cells import compile_cover
from tzspark.covertable import CoverTables
from tzspark.engine import assign_timezones, zone_dim_df
from tzspark.zones import make_zones

N = 300


@pytest.fixture()
def zones():
    return make_zones(n_coast=2000)


def test_stage_snapshot_and_resume(spark, zones, tmp_path):
    root = str(tmp_path / "snap")
    runner = SnapshotRunner(spark, root)
    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)

    calls = {"gen": 0, "assign": 0}

    def gen():
        calls["gen"] += 1
        return images_df(spark, N, partitions=3)

    def assign():
        calls["assign"] += 1
        return assign_timezones(runner.stage("images", gen), cov, dim).drop("bytes")

    out1 = runner.stage("assigned", assign)
    assert out1.count() == N
    assert calls == {"gen": 1, "assign": 1}

    # rerun: both stages are snapshot hits, no recompute
    out2 = runner.stage("assigned", assign)
    assert out2.count() == N
    assert calls == {"gen": 1, "assign": 1}

    # lineage manifest agrees with the data
    m = runner.manifest("assigned")
    assert m["n_rows"] == N and m["n_files"] >= 1
    assert sum(m["files"].values()) == N

    # crash simulation: stage 2 lost, stage 1 intact -> only stage 2 reruns
    runner.invalidate("assigned")
    out3 = runner.stage("assigned", assign)
    assert out3.count() == N
    assert calls == {"gen": 1, "assign": 2}


def test_torn_write_recovery(spark, zones, tmp_path):
    root = str(tmp_path / "snap")
    runner = SnapshotRunner(spark, root)
    # simulate a crashed writer: directory exists, no _SUCCESS
    torn = runner._dir("s1")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")
    df = runner.stage("s1", lambda: images_df(spark, 50, partitions=2))
    assert df.count() == 50
    assert runner.is_done("s1")


def test_row_level_resume(spark, zones, tmp_path):
    out = str(tmp_path / "rows")
    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)
    imgs = images_df(spark, N, partitions=3)

    def transform(df):
        return assign_timezones(df, cov, dim).select(
            "image_id", "zone_id", "tzid", "via_knn"
        )

    # first run over only a third of the input (simulates partial progress)
    first = imgs.where(F.col("image_id") < "img000000000100")
    r1 = run_resumable(spark, first, "image_id", out, transform)
    assert r1.count() == 100

    # resumed run over the full input: only the remaining 200 are processed
    processed = {"n": 0}
    orig_transform = transform

    def counting_transform(df):
        processed["n"] = df.count()
        return orig_transform(df)

    r2 = run_resumable(spark, imgs, "image_id", out, counting_transform)
    assert r2.count() == N
    assert processed["n"] == N - 100
    assert r2.select("image_id").distinct().count() == N

    # idempotent: third run processes nothing
    r3 = run_resumable(spark, imgs, "image_id", out, orig_transform)
    assert r3.count() == N


def test_crash_between_commit_and_manifest_recomputes(spark, zones, tmp_path):
    """_SUCCESS alone must not mark a stage done: a crash after the parquet
    commit but before _lineage.json lands would otherwise leave a 'done'
    stage whose manifest() raises forever."""
    import os

    from tzspark.checkpoint import SnapshotRunner

    r = SnapshotRunner(spark, str(tmp_path / "snap"))
    calls = []

    def fn():
        calls.append(1)
        return spark.range(5).toDF("k")

    r.stage("s1", fn)
    assert r.is_done("s1") and r.manifest("s1")["n_rows"] == 5
    # simulate the crash window: manifest vanishes, _SUCCESS stays
    os.remove(os.path.join(str(tmp_path / "snap"), "stage=s1", "_lineage.json"))
    assert not r.is_done("s1")
    df = r.stage("s1", fn)  # must recompute, not trust the torn snapshot
    assert len(calls) == 2 and df.count() == 5 and r.manifest("s1")["n_rows"] == 5
