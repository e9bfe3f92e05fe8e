"""Plan-shape checks in tier-1 (scripts/explain_plans.py, which also
writes the PLANS.md sections):

* probe_plan_checks: the image lookup, the quarantine side output and the
  q11/q12/q43/q89/q106 probes each cross into Python once (one
  ArrowEvalPython; q89 one per epoch);
* facade_plan_checks: the image lookup's checks on the plan of a second
  TimezoneLookup.assign call, built from its memoized LookupPlan;
* join_path_checks: each join-path lookup is one ArrowEvalPython probe over
  the mapped index file with no Exchange below it, nothing cached and only
  the zone dim broadcast; the multi-tenant probe reads the tenant column
  (and a repartition planted before the probe fails the check);
* distance_join_checks: each of the four distance joins is one equi-join
  on the grid cell (plus the time bucket for co-location), never an
  all-pairs join, with no Python stage.

Plus a unit test of the dump's per-plan renumbering (stable_ids)."""

from scripts.explain_plans import (
    distance_join_checks,
    facade_plan_checks,
    join_path_checks,
    join_shape_failures,
    plan_of,
    probe_plan_checks,
    stable_ids,
)
from tzspark.datasets import images_df

from tests.test_covertable import SF


def test_probe_plan_shape(spark, tmp_path):
    # read back from parquet, as the script does: a synthesized frame would
    # add its own MapInPandas to the counted Python stages
    path = str(tmp_path / "images.parquet")
    images_df(spark, 400, partitions=2).write.parquet(path)
    sections, failures = probe_plan_checks(spark, spark.read.parquet(path), SF)
    assert len(sections) == 7
    assert failures == []


def test_facade_plan_shape(spark, tmp_path):
    # from parquet, for the reason test_probe_plan_shape gives
    path = str(tmp_path / "images.parquet")
    images_df(spark, 400, partitions=2).write.parquet(path)
    sections, failures = facade_plan_checks(spark, spark.read.parquet(path), SF)
    assert len(sections) == 1
    assert failures == []


def test_join_path_plan_shape(spark, tmp_path):
    # from parquet, for the reason test_probe_plan_shape gives
    path = str(tmp_path / "images.parquet")
    images_df(spark, 400, partitions=2).write.parquet(path)
    sections, failures = join_path_checks(spark, spark.read.parquet(path), SF)
    assert len(sections) == 3
    assert failures == []


def test_join_path_check_catches_planted_repartition(spark):
    """A repartition planted before the join-path probe (the shuffle the
    cogroup lookup had) fails join_shape_failures."""
    from tzspark.cells import compile_cover
    from tzspark.covertable import CoverTables, assign_via_join
    from tzspark.queries_geo import box_zones, pts_df

    cov = CoverTables.from_index(
        spark, compile_cover(box_zones(spark, SF), base_res=3, max_res=7))
    pts = pts_df(spark, SF)
    plain = plan_of(assign_via_join(pts, cov).groupBy("zone_id").count())
    assert join_shape_failures("plain", plain) == []
    planted = plan_of(
        assign_via_join(pts.repartition(4, "event_id"), cov)
        .groupBy("zone_id").count())
    assert join_shape_failures("planted", planted) == [
        "planted: an Exchange below the probe"]


def test_distance_join_plan_shape(spark):
    sections, failures = distance_join_checks(spark, SF)
    assert len(sections) == 4
    assert failures == []


def test_stable_ids_renumbers_rdd_ids():
    """Two plans that differ only in session-global RDD ids (and expression
    ids) dump to the same text; distinct RDDs in one plan stay distinct."""
    plan = ("Scan ExistingRDD[doc_id#{a}]\n"
            "Arguments: [doc_id#{a}], MapPartitionsRDD[{r}] at localCheckpoint, "
            "ExistingRDD, UnknownPartitioning(0)\n"
            "+- ParallelCollectionRDD[{s}] at parallelize\n"
            "+- MapPartitionsRDD[{r}] at localCheckpoint\n")
    one = stable_ids(plan.format(a=24, r=248, s=7))
    two = stable_ids(plan.format(a=27, r=253, s=12))
    assert one == two
    assert "MapPartitionsRDD[1]" in one and "ParallelCollectionRDD[2]" in one
    assert "ExistingRDD[doc_id#1]" in one
