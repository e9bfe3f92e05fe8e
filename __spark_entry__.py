"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Engine: tzspark/ — see SURVEY.md. Geo queries derive points from `events`
and rectangular zones from `nation` (FIXTURES.md §4); q10-q12 run the real
float32 PIP / cell-cover / kNN kernels inside Arrow UDFs against pure-SQL
oracles. Text/similarity queries cover the training-data operator families
over `documents` / `embeddings`. The image queries (q24-q30) are oracle-
checked too: the synthetic pixels and the codec are pure arithmetic in the
row index, so decoded channel sums / PSNR / tile raster stats are exactly
SQL-expressible (COVERAGE.md "pixel-synthesis SQL oracles"). All 109
queries carry a value-level DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
# executors' python workers must import tzspark too
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
# Shared host calibration (tzspark/hostcal.py): MALLOC_* env exports so the
# JVM + every Python worker avoid this VM's pathological first-touch fault
# stalls on large fresh mmaps, plus mallopt(3) for THIS process (env vars
# can't retune a running glibc). Only effective if this module is imported
# before the JVM starts, which is how the driver and the oracle-check
# harness both load it.
from tzspark import hostcal

hostcal.apply()

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: synthesize the image+caption
    table from `events` (EXIF-style GPS in the blob), then run the full
    engine — vectorized GPS extract -> cell encode -> compiled-cover PIP
    resolve over the mapped index file -> kNN fallback -> tzid attach
    (broadcast hash join) -> per-zone rollup."""
    from tzspark.cells import compile_cover
    from tzspark.covertable import CoverTables
    from tzspark.datasets import images_from_events
    from tzspark.engine import assign_timezones, zone_dim_df
    from tzspark.shipping import ensure_shipped
    from tzspark.zones import make_zones

    ensure_shipped(spark)  # --py-files equivalent for pre-created sessions
    sf_dir = "/root/testdata/sf0.001"
    zones = make_zones(n_coast=8000)
    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)
    imgs = images_from_events(spark, sf_dir)
    assigned = assign_timezones(imgs, cov, dim)
    return (
        assigned.groupBy("zone_id", "tzid")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.col("via_knn").cast("long")).alias("n_via_knn"),
            F.round(F.avg("lat"), 4).alias("avg_lat"),
            F.round(F.avg("lng"), 4).alias("avg_lng"),
        )
        .orderBy("zone_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ §2.7)."""
    from tzspark.queries_extra import EXTRA_QUERIES
    from tzspark.queries_geo import GEO_QUERIES
    from tzspark.queries_text import TEXT_QUERIES

    def _shipped(fn):
        def wrapped(spark, sf_dir):
            from tzspark.shipping import ensure_shipped

            ensure_shipped(spark)
            return fn(spark, sf_dir)

        return wrapped

    out = {}
    for name, (fn, _sql) in {**GEO_QUERIES, **TEXT_QUERIES}.items():
        out[name] = _shipped(fn)
    for name, fn in EXTRA_QUERIES.items():
        out[name] = _shipped(fn)
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle per query; non-SQL-expressible ops are omitted
    (image decode/PSNR, raster tiling, full synthetic-zone engine)."""
    from tzspark.queries_extra import EXTRA_ORACLES
    from tzspark.queries_geo import GEO_QUERIES
    from tzspark.queries_text import TEXT_QUERIES

    out = {name: sql for name, (_fn, sql) in {**GEO_QUERIES, **TEXT_QUERIES}.items()}
    out.update(EXTRA_ORACLES)
    return out
