"""Plan-shape checks in tier-1 (scripts/explain_plans.py, which also
writes the PLANS.md sections):

* join_path_checks: one FlatMapCoGroupsInArrow per lookup, the cover never
  broadcast, multi-tenant cogroup keys led by tenant, and the image path's
  GPS extract evaluated once;
* distance_join_checks: each of the four distance joins is one equi-join
  on the grid cell (plus the time bucket for co-location), never an
  all-pairs join, with no Python stage."""

from scripts.explain_plans import distance_join_checks, join_path_checks
from tzspark.datasets import images_df

from tests.test_covertable import SF


def test_join_path_plan_shape(spark):
    sections, failures = join_path_checks(
        spark, images_df(spark, 400, partitions=2), SF
    )
    assert len(sections) == 3
    assert failures == []


def test_distance_join_plan_shape(spark):
    sections, failures = distance_join_checks(spark, SF)
    assert len(sections) == 4
    assert failures == []
