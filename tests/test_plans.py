"""Plan-shape checks in tier-1: the join path's physical plan
(scripts/explain_plans.py join_path_checks, which also writes the PLANS.md
sections): one FlatMapCoGroupsInArrow per lookup, the cover never
broadcast, multi-tenant cogroup keys led by tenant, and the image path's
GPS extract evaluated once."""

from scripts.explain_plans import join_path_checks
from tzspark.datasets import images_df

from tests.test_covertable import SF


def test_join_path_plan_shape(spark):
    sections, failures = join_path_checks(
        spark, images_df(spark, 400, partitions=2), SF
    )
    assert len(sections) == 3
    assert failures == []
