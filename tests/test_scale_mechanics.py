"""Scale mechanics: bucketed co-located joins (no exchange) and
partition-pruned reads — the storage-layout levers for the 100 TB shape."""

import re

import pytest
from pyspark.sql import functions as F

from tzspark.cells import cell_id_col, compile_cover
from tzspark.covertable import CoverTables
from tzspark.datasets import images_df
from tzspark.engine import assign_timezones, zone_dim_df
from tzspark.zones import make_zones

N = 400


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def assigned(spark):
    zones = make_zones(n_coast=2000)
    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)
    return assign_timezones(images_df(spark, N, partitions=4), cov, dim).drop(
        "bytes"
    )


def test_bucketed_join_has_no_shuffle(spark, assigned, tmp_path):
    """Two tables bucketed on the same key join WITHOUT any Exchange — the
    co-located join strategy for repeated joins on cell_id at scale
    (Iceberg: bucket(cell_id) partition transform)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        left = assigned.select("image_id", "cell_id", "zone_id")
        right = assigned.groupBy("cell_id").agg(F.count("*").alias("tile_n"))
        for name, df in (("t_left", left), ("t_right", right)):
            df.write.mode("overwrite").bucketBy(8, "cell_id").sortBy("cell_id").saveAsTable(name)
        j = spark.table("t_left").join(spark.table("t_right"), "cell_id")
        plan = _plan(j)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan.replace("BroadcastExchange", ""), plan
        assert j.count() == N
        # the same join WITHOUT bucketing shuffles both sides
        left.write.mode("overwrite").saveAsTable("t_left_flat")
        right.write.mode("overwrite").saveAsTable("t_right_flat")
        j2 = spark.table("t_left_flat").join(spark.table("t_right_flat"), "cell_id")
        assert "Exchange" in _plan(j2).replace("BroadcastExchange", "")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in ("t_left", "t_right", "t_left_flat", "t_right_flat"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_partition_pruned_resume_read(spark, assigned, tmp_path):
    """Output partitioned by the coarse cell -> a resume/backfill reading one
    coarse cell scans only that partition's files (the parquet form of
    Iceberg partition pruning for per-partition resume, SURVEY §4)."""
    out = str(tmp_path / "assigned_by_coarse")
    with_coarse = assigned.withColumn(
        "cell_r4", cell_id_col(F.col("lat"), F.col("lng"), 4)
    )
    with_coarse.write.mode("overwrite").partitionBy("cell_r4").parquet(out)

    back = spark.read.parquet(out)
    one = back.where(F.col("cell_r4") == with_coarse.select("cell_r4").first()[0])
    plan = _plan(one)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell_r4" in m.group(1), plan  # pruning predicate present
    # pruned scan reads strictly fewer files than the full table
    n_parts = with_coarse.select("cell_r4").distinct().count()
    assert n_parts > 1
    assert one.count() < N


def test_facade_assign_bucketed_join_no_shuffle(spark, tmp_path):
    """User-reachable bucketing: TimezoneLookup.assign_bucketed persists the
    lookup output bucketed on cell_id; a downstream join against another
    table bucketed the same way plans with zero Exchange."""
    from tzspark.api import TimezoneLookup
    from tzspark.zones import make_zones

    tl = TimezoneLookup(make_zones(n_coast=1000))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = tl.assign_bucketed(spark, images_df(spark, N, partitions=4), "t_assign_b", n_buckets=8)
        tiles = t.groupBy("cell_id").agg(F.count("*").alias("tile_n"))
        tiles.write.mode("overwrite").bucketBy(8, "cell_id").sortBy("cell_id").saveAsTable("t_tiles_b")
        j = t.select("image_id", "cell_id").join(spark.table("t_tiles_b"), "cell_id")
        plan = _plan(j)
        assert "Exchange" not in plan.replace("BroadcastExchange", ""), plan
        assert j.count() == N
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for tname in ("t_assign_b", "t_tiles_b"):
            spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_hot_spot_points_probe_without_exchange(spark):
    """The dense-urban-tile regime: a point stream concentrated in ONE tiny
    blob. The join-path lookup probes each row in the task that reads it,
    so the hot spot stays spread over the input's partitions: no Exchange
    in the plan, and the answers equal cells.assign_points."""
    import numpy as np

    from tzspark.cells import assign_points, compile_cover, resolve_points
    from tzspark.covertable import CoverTables, assign_via_join
    from tzspark.geom import F32

    zones = make_zones(n_coast=2000)
    idx = compile_cover(zones)
    cov = CoverTables.from_index(spark, idx)
    # ~350k points in a 0.02-degree blob inside one hot cell (urban tile),
    # plus a thin uniform background
    n_hot, n_bg = 350_000, 20_000
    pts = (
        spark.range(0, n_hot + n_bg, 1, 8)
        .select(
            F.col("id").alias("pid"),
            F.when(
                F.col("id") < n_hot,
                3.0 + (F.pmod(F.col("id") * 2654435761, 20000) / 1e6),
            )
            .otherwise(-6.0 + F.pmod(F.col("id") * 7919, 48000) / 1000.0)
            .cast("float")
            .alias("lat"),
            F.when(
                F.col("id") < n_hot,
                3.0 + (F.pmod(F.col("id") * 40503, 20000) / 1e6),
            )
            .otherwise(-6.0 + F.pmod(F.col("id") * 104729, 48000) / 1000.0)
            .cast("float")
            .alias("lng"),
        )
    )
    res = assign_via_join(pts, cov)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    got = (
        res.select("pid", "zone_id", "via_knn", F.spark_partition_id().alias("task"))
        .toPandas()
        .sort_values("pid")
    )
    ids = np.arange(n_hot + n_bg, dtype=np.int64)
    la = np.where(
        ids < n_hot, 3.0 + ((ids * 2654435761) % 20000) / 1e6,
        -6.0 + ((ids * 7919) % 48000) / 1000.0,
    ).astype(F32)
    lg = np.where(
        ids < n_hot, 3.0 + ((ids * 40503) % 20000) / 1e6,
        -6.0 + ((ids * 104729) % 48000) / 1000.0,
    ).astype(F32)
    assert got["pid"].tolist() == ids.tolist()
    # the hot blob's points ran in every input partition's task
    assert len(set(got["task"].to_numpy()[:n_hot].tolist())) >= 2
    zid, via = assign_points(idx, la, lg)
    np.testing.assert_array_equal(got["zone_id"].to_numpy(), zid)
    np.testing.assert_array_equal(got["via_knn"].to_numpy(), via)
    np.testing.assert_array_equal(np.where(via, -1, zid), resolve_points(idx, la, lg))


def test_proximity_join_at_scale_planted_cluster(spark):
    """Distance self-join at meaningful size: 200k points world-wide plus a
    planted 80-point cluster inside one 0.1-degree disc. The join must (a)
    finish as a cell equi-join (no all-pairs operator in the plan), (b)
    return every planted pair, and (c) return only correct pairs on a
    verified sample — completeness and soundness without a 200k^2 brute
    force."""
    import numpy as np

    from tzspark.covertable import proximity_self_join

    rng = np.random.default_rng(31)
    n = 200_000
    lat = rng.uniform(-89.9, 89.9, n).astype(np.float32)
    lng = rng.uniform(-179.9, 179.9, n).astype(np.float32)
    lat[:80] = 40.0 + rng.uniform(0, 0.07, 80).astype(np.float32)
    lng[:80] = -100.0 + rng.uniform(0, 0.07, 80).astype(np.float32)

    import pandas as pd

    p = spark.createDataFrame(
        pd.DataFrame({"k": np.arange(n, dtype=np.int64),
                      "lat": lat.astype(np.float64),
                      "lng": lng.astype(np.float64)})
    ).repartition(16)
    res = proximity_self_join(p, "k", radius=0.5, res=8)
    plan = _plan(res)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    rows = res.collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    # completeness: every planted pair (cluster diameter < 0.1*sqrt(2) << r)
    planted = {(i, j) for i in range(80) for j in range(i + 1, 80)}
    assert planted <= got
    # soundness: every returned pair really is within r (check all — cheap)
    la, lg = lat.astype(np.float64), lng.astype(np.float64)
    for a, b in got:
        d2 = (la[a] - la[b]) ** 2 + (lg[a] - lg[b]) ** 2
        assert d2 <= 0.25 + 1e-12, (a, b, d2)


def test_runtime_bloom_filter_prunes_cell_join(spark, tmp_path):
    """The 100 TB cover-as-table join regime is runtime-filter-compatible:
    when the cover side carries a selective predicate (a tenant / bbox
    restriction), Spark's InjectRuntimeFilter builds a bloom filter from it
    and applies might_contain() on the huge points side BEFORE the shuffle,
    pruning rows that cannot match. This pins the conf set that makes the
    optimizer inject it and that both join inputs are plain-column keys the
    filter can attach to (a derived-expression key would block it)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # engine-shaped tables: points carry a materialized cell_id column
        # (the facade's assign_join persists exactly this), cover cells too
        pts = (
            spark.range(0, 200_000)
            .withColumn("lat", (F.col("id") % 180 - 90).cast("double"))
            .withColumn("lng", (F.col("id") % 360 - 180).cast("double"))
            .withColumn("cell_id", cell_id_col(F.col("lat"), F.col("lng"), 7))
        )
        pts.write.mode("overwrite").parquet(f"{tmp_path}/pts")
        cover = (
            spark.range(0, 50_000)
            .withColumn("cell_id", F.col("id") * 7919)
            .withColumn("zone_id", (F.col("id") % 97).cast("int"))
        )
        cover.write.mode("overwrite").parquet(f"{tmp_path}/cover")
        p = spark.read.parquet(f"{tmp_path}/pts")
        c = spark.read.parquet(f"{tmp_path}/cover").where(F.col("zone_id") < 5)
        j = p.join(c, "cell_id")
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "bloom_filter_agg" in plan, "runtime bloom filter not injected"
        assert "might_contain" in plan
        # and the join still computes the right thing under the filter
        n = j.count()
        want = p.join(c.hint("broadcast"), "cell_id").count()
        assert n == want
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_approx_aggregates_bounded_against_exact(spark):
    """The documented 10^12-row swaps (q88 percentile -> approx_percentile,
    exact distinct -> approx_count_distinct) hold their error bounds on this
    data: approx_percentile with accuracy A lands within 1/A of the exact
    rank, approx_count_distinct within its ~2.3% HLL++ rsd at default
    precision (asserted at 3 sigma)."""
    sf = "/root/testdata/sf0.01"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    exact_p, approx_p = ev.select(
        F.expr("percentile(value, 0.9)").alias("e"),
        F.expr("approx_percentile(value, 0.9, 10000)").alias("a"),
    ).first()
    # rank error <= n/accuracy; translate to a value window via nearby ranks
    n = ev.count()
    eps_rank = n / 10000 + 1
    lo, hi = ev.select(
        F.expr(f"percentile(value, greatest(0.0, 0.9 - {eps_rank}/{n}))"),
        F.expr(f"percentile(value, least(1.0, 0.9 + {eps_rank}/{n}))"),
    ).first()
    assert lo <= approx_p <= hi, (exact_p, approx_p, lo, hi)

    exact_u, approx_u = ev.select(
        F.countDistinct("user_id").alias("e"),
        F.expr("approx_count_distinct(user_id)").alias("a"),
    ).first()
    assert abs(approx_u - exact_u) <= max(3 * 0.023 * exact_u, 1.0), (
        exact_u,
        approx_u,
    )


def test_aqe_skew_split_fires_on_colocation_key(spark):
    """Co-location's (cell, time-bucket) self-join under a dense-urban hot
    key: a blob of events sharing ONE location and ONE time bucket makes
    that (cell, bucket) shuffle partition dominate both join inputs. The
    plan must admit AQE's skew split (`AQEShuffleRead skewed` in the final
    adaptive plan), and the split must not change the pair set — checked
    as a full checksum (count + id/dt sums) against the identical query
    with skew-join handling disabled. Companion to
    test_aqe_skew_split_fires_on_hot_cell_join for the 3D blocking key
    (covertable.colocation_pairs docstring: 'hot (cell,bucket) keys are
    ordinary join skew, AQE-splittable')."""
    from tzspark.covertable import colocation_pairs

    n_hot, n_bg = 3000, 2000
    # hot: one point, timestamps within one 600 s bucket, 200 users cycling
    # -> ~C(2500,2) cross-user candidate pairs, all inside one join key
    pts = spark.range(0, n_hot + n_bg, 1, 8).select(
        F.col("id").alias("event_id"),
        F.pmod(F.col("id"), F.lit(200)).alias("user_id"),
        F.timestamp_seconds(
            F.when(F.col("id") < n_hot, F.pmod(F.col("id"), F.lit(300)))
            .otherwise(F.pmod(F.col("id") * 17, F.lit(86400)))
        ).alias("ts"),
        F.when(F.col("id") < n_hot, 12.34 + F.col("id") / 1e8)
        .otherwise(-60.0 + F.pmod(F.col("id") * 7919, F.lit(120000)) / 1000.0)
        .cast("float")
        .alias("lat"),
        F.when(F.col("id") < n_hot, 45.67 + F.col("id") / 1e8)
        .otherwise(-160.0 + F.pmod(F.col("id") * 104729, F.lit(320000)) / 1000.0)
        .cast("float")
        .alias("lng"),
    )

    def checksum(df):
        return df.groupBy().agg(
            F.count("*").alias("n"),
            F.sum("id_a").alias("sa"),
            F.sum("id_b").alias("sb"),
            F.sum("dt_us").alias("st"),
        ).first()

    keys = (
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        # scaled-down thresholds (defaults fire at 256 MB partitions); no
        # broadcast so the self-join actually shuffles on (cell, bucket)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "4096"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        q = colocation_pairs(
            pts, "event_id", "user_id", "ts", radius=0.05, window_s=600, res=8
        )
        agg = q.groupBy().agg(
            F.count("*").alias("n"),
            F.sum("id_a").alias("sa"),
            F.sum("id_b").alias("sb"),
            F.sum("dt_us").alias("st"),
        )
        got = agg.collect()[0]  # collect(), not first(): first() runs a
        # separate limit plan, leaving agg's own adaptive plan unexecuted
        plan = _plan(agg)
        assert "AQEShuffleRead" in plan and "skewed" in plan, plan[:3000]

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
        want = checksum(
            colocation_pairs(
                pts, "event_id", "user_id", "ts", radius=0.05, window_s=600, res=8
            )
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert tuple(got) == tuple(want), (got, want)
