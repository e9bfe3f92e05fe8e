"""Dump the physical plans of the engine's core pipelines to PLANS.md and
assert the plan properties the design promises:

1. lookup pipeline: exactly ONE exchange (the final rollup shuffle), dim
   attach is a BroadcastHashJoin, no SortMergeJoin anywhere;
2. column pruning: a query needing only the bytes column scans only bytes
   (ReadSchema), captions/phash are not read;
3. filter pushdown: a fmt/w predicate reaches the parquet scan
   (PushedFilters);
4. tile rollup: decode runs in ONE mapInArrow below the only Exchange, so
   only the tiny partial-sum rows shuffle;
5. quarantine side output: the extract UDF crosses into Python once (one
   ArrowEvalPython), not once more inside the validity Filter; 1 and 5,
   with the q11/q12/q43/q89/q106 probes, are probe_plan_checks, and 1's
   checks on TimezoneLookup.assign's memoized plan are facade_plan_checks
   (both also run in tier-1 by tests/test_plans.py);
6. join path: one ArrowEvalPython probe per lookup with no Exchange
   below it, the index never broadcast (join_path_checks; tier-1 runs it
   in tests/test_plans.py);
6e. distance joins: one cell-keyed equi-join each, never an all-pairs
   join, no Python stage (distance_join_checks; also in tier-1).
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("PYTHONPATH", "/root/repo")

from pyspark.sql import functions as F

from tzspark.cells import compile_cover
from tzspark.covertable import CoverTables
from tzspark.engine import (
    assign_timezones,
    get_spark,
    quarantined_rows,
    tile_rollup_fused,
    zone_dim_df,
)
from tzspark.datasets import images_df
from tzspark.zones import make_zones


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def stable_ids(plan: str) -> str:
    """Renumber the run-to-run counters in one plan from 1, in order of
    first appearance — Spark's session-global expression ids (``name#123``),
    ``plan_id=N`` and RDD ids (``MapPartitionsRDD[N]``, which shift with
    whatever jobs ran earlier in the session), and random UUIDs (streaming
    run ids) — and mask the random suffix of this script's mkdtemp dirs, so
    a regenerated PLANS.md differs only where a plan does."""
    plan = re.sub(r"(/plans_[a-z]+_)[a-z0-9_]{8}\b", r"\1XXXXXXXX", plan)
    uuid = r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"
    for pat, fmt in ((r"(?<=#)\d+", "{}"), (r"(?<=plan_id=)\d+", "{}"),
                     (r"(?<=RDD\[)\d+(?=\])", "{}"), (uuid, "uuid-{}")):
        ids = {}
        plan = re.sub(
            pat, lambda m: fmt.format(ids.setdefault(m.group(0), len(ids) + 1)), plan
        )
    return plan


def main():
    spark = get_spark(app="plans", master="local[4]", shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    tmp = "/tmp/plans_images.parquet"
    if not os.path.exists(tmp + "/_SUCCESS"):
        images_df(spark, 2000, partitions=4).write.mode("overwrite").parquet(tmp)
    images = spark.read.parquet(tmp)
    zones = make_zones(n_coast=2000)
    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)

    sections = []
    failures = []

    # 2. column pruning through the UDF projections
    gps_only = assign_timezones(images, cov, dim).select("zone_id")
    p2 = plan_of(gps_only)
    sections.append(("zone_id-only projection (column pruning)", p2))
    m = re.search(r"ReadSchema: struct<([^>]*)>", p2)
    read_cols = m.group(1) if m else "?"
    if "caption" in read_cols or "phash" in read_cols:
        failures.append(f"pruning: scan reads unused columns: {read_cols}")

    # 3. filter pushdown to the scan
    filtered = images.where((F.col("fmt") == "raw") & (F.col("w") > 8)).select(
        "image_id"
    )
    p3 = plan_of(filtered)
    sections.append(("fmt/w filter (predicate pushdown)", p3))
    if not re.search(r"PushedFilters: \[[^\]]*EqualTo\(fmt,raw\)", p3):
        failures.append("pushdown: fmt filter not pushed to parquet scan")

    # 4. tile rollup shuffles only partial sums: ONE Python stage (the
    # mapInArrow decode), and it sits below the only Exchange — the tree
    # dump lists operators top-down from the sink
    p4 = plan_of(tile_rollup_fused(images))
    sections.append(("tile rollup (mapInArrow decode + partial aggregation)", p4))
    tree4 = p4.split("\n\n\n")[0]
    n_py4 = len(re.findall(r"\(\d+\) (?:ArrowEvalPython|MapInPandas|MapInArrow)", p4))
    if n_py4 != 1 or "MapInArrow" not in tree4:
        failures.append(f"tile: {n_py4} Python stages (expected exactly 1 MapInArrow)")
    n_ex4 = len(re.findall(r"\bExchange \(", tree4))
    if n_ex4 != 1:
        failures.append(f"tile: {n_ex4} Exchanges (expected exactly 1)")
    elif tree4.find("MapInArrow") < tree4.find("Exchange ("):
        failures.append("tile: the decode stage runs above the Exchange")

    # 5. fused one-pass lookup+tile: ONE PythonMapInArrow, one Exchange,
    # bytes-only ReadSchema (payload crosses once, partials shuffle)
    from tzspark.engine import lookup_tile_onepass

    p5 = plan_of(lookup_tile_onepass(images, cov))
    sections.append(("one-pass lookup + tile (mapInArrow fusion)", p5))
    if "MapInArrow" not in p5:
        failures.append("onepass: MapInArrow stage missing")
    n_py5 = len(re.findall(r"\(\d+\) (?:ArrowEvalPython|MapInPandas|MapInArrow)", p5))
    if n_py5 != 1:
        failures.append(f"onepass: {n_py5} Python stages (expected exactly 1)")
    n_ex5 = len(re.findall(r"\(\d+\) Exchange\b", p5))
    if n_ex5 > 1:
        failures.append(f"onepass: {n_ex5} Exchanges (expected <= 1)")
    m5 = re.search(r"ReadSchema: struct<([^>]*)>", p5)
    if m5 and m5.group(1) != "bytes:binary":
        failures.append(f"onepass: scan reads more than bytes: {m5.group(1)}")

    # 6-6c. the broadcast-free lookup (join path): join_path_checks below
    from tzspark.queries_geo import pts_df

    sf_small = "/root/testdata/sf0.001"
    s6, f6 = join_path_checks(spark, images, sf_small)
    sections += s6
    failures += f6

    # 6e. the four distance joins: distance_join_checks below
    s6e, f6e = distance_join_checks(spark, sf_small)
    sections += s6e
    failures += f6e

    # 1 and 4b (the lookup and its quarantine side output) and the
    # oracle-checked probes: probe_plan_checks below
    s1, f1 = probe_plan_checks(spark, images, sf_small)
    sections += s1
    failures += f1
    s1f, f1f = facade_plan_checks(spark, images, sf_small)
    sections += s1f
    failures += f1f

    # 7. as-of join (union-and-last-value form): NO join operator at all —
    # one Exchange on user_id feeds the window; sessionization's two windows
    # share the same partitioning, so its only extra Exchange is the final
    # per-session aggregate
    from tzspark.queries_text import q45_asof_join, q46_sessionize

    p7 = plan_of(q45_asof_join(spark, sf_small))
    sections.append(("as-of join (union + last-value window)", p7))
    if re.search(r"Join", p7):
        failures.append("asof: plan contains a join operator (expected none)")
    n_ex7 = len(re.findall(r"\(\d+\) Exchange\b", p7))
    if n_ex7 != 1:
        failures.append(f"asof: {n_ex7} Exchanges (expected exactly 1)")
    p8 = plan_of(q46_sessionize(spark, sf_small))
    sections.append(("sessionization (gap windows + rollup)", p8))
    n_ex8 = len(re.findall(r"\(\d+\) Exchange\b", p8))
    if n_ex8 > 2:
        failures.append(
            f"sessionize: {n_ex8} Exchanges (expected <= 2: windows share one)"
        )

    # 9. SQ8 asymmetric top-k over packed codes: exactly ONE Python stage
    # (the mapInArrow local top-k) and exactly ONE Exchange (the k-rows-per-
    # partition window on probe_idx) — the corpus itself never shuffles
    import numpy as np

    from tzspark.datasets import embeddings_df, synth_embeddings
    from tzspark.queries_text import sq8_encode_arrow, sq8_stats_np, sq8_topk_arrow

    e9 = embeddings_df(spark, 2000, partitions=4)
    mins9, spans9 = sq8_stats_np(e9)
    codes9 = sq8_encode_arrow(e9, mins9, spans9)
    probes9 = synth_embeddings(np.arange(4), 64).astype(np.float64)
    p9 = plan_of(sq8_topk_arrow(codes9, mins9, spans9, probes9, k=5))
    sections.append(("SQ8 asymmetric top-k (packed codes, local top-k)", p9))
    # formatted plans print the Arrow stages as bare "MapInArrow"; the synth
    # generator is MapInPandas and not counted (bench reads codes from parquet)
    n_py9 = len(re.findall(r"\(\d+\) MapInArrow\b", p9))
    n_ex9 = len(re.findall(r"\(\d+\) Exchange\b", p9))
    if n_py9 != 2:  # encode + search
        failures.append(f"sq8-topk: {n_py9} Python stages (expected 2 inline: encode+search)")
    if n_ex9 > 1:
        failures.append(f"sq8-topk: {n_ex9} Exchanges (expected 1: the probe_idx window)")

    # 10. PQ ADC top-k over packed codes: same shape as the SQ8 path —
    # encode + search Arrow stages, one Exchange for the global top-k
    from tzspark.queries_text import pq_adc_topk_arrow, pq_encode_arrow, pq_train_np

    cent10 = pq_train_np(e9, sample_n=64)
    codes10 = pq_encode_arrow(e9, cent10)
    p10 = plan_of(pq_adc_topk_arrow(codes10, cent10, probes9, k=5))
    sections.append(("PQ ADC top-k (packed codes, local top-k)", p10))
    n_py10 = len(re.findall(r"\(\d+\) MapInArrow\b", p10))
    n_ex10 = len(re.findall(r"\(\d+\) Exchange\b", p10))
    if n_py10 != 2:  # encode + search
        failures.append(f"pq-topk: {n_py10} Python stages (expected 2 inline: encode+search)")
    if n_ex10 > 1:
        failures.append(f"pq-topk: {n_ex10} Exchanges (expected 1: the probe_idx window)")

    # 11-14. round-4 additions: geometry folds, geofence window, focal
    # convolution, clip conservation
    from tzspark.queries_geo import (
        q64_zone_geometry,
        q65_zone_transitions,
        q66_focal_tile_stats,
        q67_clip_conservation,
    )

    sf001 = "/root/testdata/sf0.001"

    p11 = plan_of(q64_zone_geometry(spark, sf001))
    sections.append(("zone geometry folds (shoelace/perimeter/centroid)", p11))
    if re.search(r"ArrowEvalPython|MapInPandas|MapInArrow|BatchEvalPython", p11):
        failures.append("zone-geometry: unexpected Python stage (array folds are JVM exprs)")
    if len(re.findall(r"\(\d+\) Exchange\b", p11)) > 1:
        failures.append("zone-geometry: >1 Exchange (only the presentation sort expected)")

    p12 = plan_of(q65_zone_transitions(spark, sf001))
    sections.append(("geofence transitions (probe + user window)", p12))
    if len(re.findall(r"\(\d+\) ArrowEvalPython\b", p12)) != 1:
        failures.append("transitions: expected exactly 1 Python stage (the cover probe)")
    if len(re.findall(r"\(\d+\) Exchange\b", p12)) > 2:
        failures.append("transitions: >2 Exchanges (user window + presentation sort)")

    p13 = plan_of(q66_focal_tile_stats(spark, sf001))
    sections.append(("focal 3x3 tile aggregation (raster convolution)", p13))
    if re.search(r"ArrowEvalPython|MapInPandas|MapInArrow|BatchEvalPython", p13):
        failures.append("focal: unexpected Python stage (pure column ops)")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p13):
        failures.append("focal: plan degenerates to a cross join")
    if len(re.findall(r"\(\d+\) Exchange\b", p13)) > 3:
        failures.append("focal: >3 Exchanges (tile agg + focal re-agg + sort)")

    p14 = plan_of(q67_clip_conservation(spark, sf001))
    sections.append(("clip conservation (fragment partial sums)", p14))
    if len(re.findall(r"\(\d+\) MapInPandas\b", p14)) != 1:
        failures.append("clip: expected exactly 1 Python stage (the fragment fold)")
    if re.search(r"SortMergeJoin|CartesianProduct", p14):
        failures.append("clip: unexpected join in the pair-list build")

    from tzspark.queries_extra import q69_image_ahash_neardup, q71_zonal_image_stats
    from tzspark.queries_geo import q70_tile_pyramid, q72_colocation

    p15 = plan_of(q69_image_ahash_neardup(spark, sf001))
    sections.append(("perceptual-hash near-dup (banded hamming LSH)", p15))
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p15):
        failures.append("ahash: pair generation degenerates to a cross join")
    n_py15 = len(re.findall(r"\(\d+\) (?:MapInPandas|MapInArrow|ArrowEvalPython)\b", p15))
    if n_py15 > 2:
        failures.append(
            f"ahash: {n_py15} Python stages (expected <=2: image synthesis + the hash kernel)"
        )

    p16 = plan_of(q70_tile_pyramid(spark, sf001))
    sections.append(("tile pyramid (multi-resolution rollup)", p16))
    if re.search(r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython", p16):
        failures.append("pyramid: unexpected Python stage (pure integer column ops)")
    if re.search(r"Join", p16):
        failures.append("pyramid: unexpected join (levels chain by aggregation only)")

    p17 = plan_of(q71_zonal_image_stats(spark, sf001))
    sections.append(("zonal channel rollup (fused resolve + pixel sums)", p17))
    n_arrow17 = len(re.findall(r"\(\d+\) MapInArrow\b", p17))
    if n_arrow17 != 1:
        failures.append(
            f"zonal: {n_arrow17} MapInArrow stages (expected exactly 1 fused kernel)"
        )
    if not re.search(r"BroadcastHashJoin", p17):
        failures.append("zonal: tzid attach is not a broadcast join")

    p18 = plan_of(q72_colocation(spark, sf001))
    sections.append(("spatiotemporal co-location ((cell, bucket) blocking)", p18))
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p18):
        failures.append("colocation: blocking degenerates to a cross join")
    if re.search(r"MapInPandas|MapInArrow|ArrowEvalPython", p18):
        failures.append("colocation: unexpected Python stage (pure column ops)")

    from tzspark.queries_geo import q77_knn_points_join, q79_geohash, q80_zorder_layout
    from tzspark.queries_text import q78_repetition_signals

    p19 = plan_of(q77_knn_points_join(spark, sf001))
    sections.append(("spatial kNN join (cell-blocked radius + per-probe top-k)", p19))
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p19):
        failures.append("knn join: candidate generation degenerates to a cross join")
    if re.search(r"MapInPandas|MapInArrow|ArrowEvalPython", p19):
        failures.append("knn join: unexpected Python stage (pure column ops)")
    if not re.search(r"Window", p19):
        failures.append("knn join: missing the per-probe top-k window")

    p20 = plan_of(q79_geohash(spark, sf001))
    sections.append(("geohash encode (bit-spread Morton, pure JVM)", p20))
    if re.search(r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython", p20):
        failures.append("geohash: unexpected Python stage (pure integer column ops)")
    if re.search(r"Join", p20):
        failures.append("geohash: unexpected join (embarrassingly parallel scan)")

    p21 = plan_of(q80_zorder_layout(spark, sf001))
    sections.append(("z-order layout audit (two map-side-combinable aggs)", p21))
    if re.search(r"MapInPandas|MapInArrow|ArrowEvalPython", p21):
        failures.append("zorder: unexpected Python stage (pure column ops)")
    if re.search(r"Window|Sort(?!MergeJoin).*global=true", p21) and re.search(
        r"Window", p21
    ):
        failures.append("zorder: unexpected global window (must stay agg-only)")
    if not re.search(r"partial_count|HashAggregate", p21):
        failures.append("zorder: missing partial aggregation")

    p22 = plan_of(q78_repetition_signals(spark, sf001))
    sections.append(("repetition signals (Gopher-style quality filter)", p22))
    if re.search(r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython", p22):
        failures.append("repetition: unexpected Python stage (JVM transform/explode)")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p22):
        failures.append("repetition: unexpected cross join")

    from tzspark.queries_extra import q82_local_time_rollup, q83_zone_quota_sample

    p23 = plan_of(q82_local_time_rollup(spark, sf001))
    sections.append(("local-time rollup (solar offset + hour-of-day agg)", p23))
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p23):
        failures.append("localtime: a join degenerated to a cross join")
    # the synthesis MapInPandas (test-data generation) is in-plan at this
    # SF; the OPERATOR itself must contribute exactly one Arrow stage
    if len(re.findall(r"\(\d+\) ArrowEvalPython", p23)) != 1 or re.search(
        r"MapInArrow", p23
    ):
        failures.append(
            "localtime: expected exactly ONE Arrow stage (the fused lookup)"
        )
    if not re.search(r"BroadcastHashJoin|BroadcastExchange", p23):
        failures.append("localtime: 25-row offset dim is not broadcast")
    if not re.search(r"partial", p23):
        failures.append("localtime: rollup missing partial aggregation")

    p24 = plan_of(q83_zone_quota_sample(spark, sf001))
    sections.append(("per-zone quota cap (content-hash row_number window)", p24))
    if len(re.findall(r"\(\d+\) ArrowEvalPython", p24)) != 1 or re.search(
        r"MapInArrow", p24
    ):
        failures.append("quota: expected exactly ONE Arrow stage (the fused lookup)")
    if not re.search(r"Window", p24):
        failures.append("quota: missing the per-zone rank window")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p24):
        failures.append("quota: unexpected cross join")

    from tzspark.queries_extra import q84_patchify
    from tzspark.queries_text import q85_mix_interleave

    p25 = plan_of(q84_patchify(spark, sf001))
    sections.append(("ViT patchify (one mapInArrow fold, sums-only output)", p25))
    # exactly one MapInArrow (the patch fold); synthesis MapInPandas allowed
    if len(re.findall(r"\(\d+\) MapInArrow\b", p25)) != 1:
        failures.append("patchify: expected exactly ONE MapInArrow stage")
    if re.search(r"Join", p25):
        failures.append("patchify: unexpected join (embarrassingly parallel)")

    p26 = plan_of(q85_mix_interleave(spark, sf001))
    sections.append(("weighted mix interleave (per-source window, no global rank)", p26))
    if re.search(r"ArrowEvalPython|MapInArrow|MapInPandas", p26):
        failures.append("interleave: unexpected Python stage (pure column ops)")
    if not re.search(r"Window", p26):
        failures.append("interleave: missing the per-source rank window")
    if re.search(r"Window.*\[\]", p26) or re.search(
        r"windowspecdefinition\(\s*md5", p26
    ):
        failures.append("interleave: window lost its source partitioning")

    from tzspark.queries_text import q90_bm25_rank

    p28 = plan_of(q90_bm25_rank(spark, sf001))
    sections.append(("BM25 ranking (Q-bounded explode, distributed top-k)", p28))
    if re.search(r"ArrowEvalPython|MapInArrow|MapInPandas", p28):
        failures.append("bm25: unexpected Python stage (pure column ops)")
    if not re.search(r"TakeOrderedAndProject", p28):
        failures.append("bm25: top-k is not a distributed TakeOrderedAndProject")
    if re.search(r"CartesianProduct(?!.*stats)", p28) and not re.search(
        r"BroadcastNestedLoopJoin|BroadcastExchange", p28
    ):
        failures.append("bm25: scalar-stats attach is not a broadcast")

    from tzspark.queries_geo import q95_overlay_join, q96_mobility_entropy

    p29 = plan_of(q95_overlay_join(spark, sf001))
    sections.append(("polygon overlay join (cell-blocked, clip areas)", p29))
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p29):
        failures.append("overlay: candidate generation degenerates to a cross join")
    if len(re.findall(r"\(\d+\) (?:MapInPandas|MapInArrow|PythonMapInArrow)", p29)) != 1:
        failures.append("overlay: expected exactly ONE map-in-batch clip fold")

    p30 = plan_of(q96_mobility_entropy(spark, sf001))
    sections.append(("mobility entropy (two partial aggs, no joins)", p30))
    if re.search(r"ArrowEvalPython|MapInArrow|MapInPandas", p30):
        failures.append("entropy: unexpected Python stage (pure column ops)")
    if re.search(r"Join", p30):
        failures.append("entropy: unexpected join")
    if not re.search(r"partial", p30):
        failures.append("entropy: aggs lost map-side combine")

    # 31-40. round-5 additions: the remaining oracle-checked queries
    # (q88, q91-q94, q97-q100) plus the new dedup family (q101, q102)
    from tzspark.queries_extra import (
        q94_image_quality_filter,
        q97_cluster_metadata,
        q100_tile_shard_pack,
    )
    from tzspark.queries_geo import q88_zone_value_quantiles, q99_od_flow_matrix
    from tzspark.queries_text import (
        q98_decontaminate,
        q101_substring_dedup,
        q102_semdedup,
    )

    p31 = plan_of(q88_zone_value_quantiles(spark, sf001))
    sections.append(("per-zone exact quantiles (percentile agg)", p31))
    if len(re.findall(r"\(\d+\) ArrowEvalPython", p31)) != 1:
        failures.append("quantiles: expected exactly ONE Arrow stage (the resolve probe)")
    if len(re.findall(r"\(\d+\) ObjectHashAggregate", p31)) < 2:
        failures.append("quantiles: percentile agg lost its partial (map-side) phase")
    if len(re.findall(r"\(\d+\) Exchange\b", p31)) > 2:
        failures.append("quantiles: >2 Exchanges (zone agg + presentation sort)")

    # 32-33. streaming shapes, asserted on the PRE-START physical plan of
    # the exact q91/q93 pipelines (StreamingRelation source): the watermark
    # node must exist, the window agg must partial-combine BEFORE the state
    # Exchange, and dedup must be the StreamingDeduplicate operator keyed by
    # one Exchange — the state-store shapes that bound memory at scale.
    import shutil
    import tempfile

    from tzspark.cells import cell_id_col

    tmp31 = tempfile.mkdtemp(prefix="plans_stream_")
    try:
        pts_df(spark, sf_small, with_user=True).select(
            "event_id", "ts", "lat", "lng"
        ).coalesce(2).write.mode("overwrite").parquet(f"{tmp31}/pts")
        stream31 = (
            spark.readStream.schema("event_id bigint, ts timestamp, lat double, lng double")
            .option("maxFilesPerTrigger", 8)
            .parquet(f"{tmp31}/pts")
        )
        p32 = plan_of(
            stream31.withWatermark("ts", "30 minutes")
            .groupBy(
                F.window("ts", "10 minutes").alias("w"),
                cell_id_col(F.col("lat"), F.col("lng"), 6).alias("cell_id"),
            )
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "cell_id", "n_events")
        )
        p33 = plan_of(stream31.dropDuplicates(["event_id"]))
    finally:
        shutil.rmtree(tmp31, ignore_errors=True)
    sections.append(("streaming windowed tile counts (q91 pre-start plan)", p32))
    if "EventTimeWatermark" not in p32:
        failures.append("stream-window: watermark node missing")
    if "StateStoreSave" not in p32:
        failures.append("stream-window: stateful agg (StateStoreSave) missing")
    # node list is printed source->sink; a HashAggregate numbered BELOW the
    # first Exchange is the map-side (pre-shuffle) partial combine
    nodes32 = re.findall(r"\(\d+\) (\w+)", p32)
    if not (
        "HashAggregate" in nodes32
        and "Exchange" in nodes32
        and nodes32.index("HashAggregate") < nodes32.index("Exchange")
    ):
        failures.append("stream-window: no partial agg before the state Exchange")

    sections.append(("streaming exact dedup (q93 pre-start plan)", p33))
    if "StreamingDeduplicate" not in p33:
        failures.append("stream-dedup: StreamingDeduplicate operator missing")
    if len(re.findall(r"\(\d+\) Exchange\b", p33)) != 1:
        failures.append("stream-dedup: expected exactly one Exchange (the dedup key)")

    # 34. MERGE INTO (q92's commit_merge frame): kept side is a LeftAnti
    # join on the merge key; no cross join; the distinct-keys side partial-
    # aggregates before its Exchange
    from tzspark.snapshots import VersionedTable

    ev34 = spark.read.parquet(f"{sf_small}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    tmp34 = tempfile.mkdtemp(prefix="plans_vt_")
    try:
        vt34 = VersionedTable(spark, tmp34)
        vt34.commit_overwrite(ev34.where(F.col("event_id") % 2 == 0))
        src34 = (
            ev34.where(F.col("event_id") % 4 == 0)
            .withColumn("value", F.col("value") * 2)
            .unionByName(ev34.where(F.col("event_id") % 2 == 1))
        )
        p34 = plan_of(vt34._merge_frame(src34, ["event_id"]))
    finally:
        shutil.rmtree(tmp34, ignore_errors=True)
    sections.append(("MERGE INTO frame (copy-on-write, left-anti kept side)", p34))
    if "LeftAnti" not in p34:
        failures.append("merge: kept side is not a left-anti join")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p34):
        failures.append("merge: key match degenerates to a cross join")
    if len(re.findall(r"\(\d+\) HashAggregate", p34)) < 2:
        failures.append("merge: distinct-keys side lost partial aggregation")

    # 35. image quality filter: exactly one MapInArrow (the luma-moments
    # fold), no joins — gates are integer column ops on the moments
    p35 = plan_of(q94_image_quality_filter(spark, sf001))
    sections.append(("image quality filter (luma moments + integer gates)", p35))
    if len(re.findall(r"\(\d+\) MapInArrow\b", p35)) != 1:
        failures.append("quality: expected exactly ONE MapInArrow (the moments fold)")
    if re.search(r"Join", p35):
        failures.append("quality: unexpected join (embarrassingly parallel)")
    if len(re.findall(r"\(\d+\) Exchange\b", p35)) > 2:
        failures.append("quality: >2 Exchanges (presentation sort only expected)")

    # 36. cluster metadata reconciliation (composes q81): the caption
    # attach and canon rollup must never cross-join, and the q81 kernels
    # stay bounded (<=3 MapInArrow + <=2 MapInPandas incl. synthesis)
    p36 = plan_of(q97_cluster_metadata(spark, sf001))
    sections.append(("dedup-cluster metadata reconciliation (q81 + rollup)", p36))
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p36):
        failures.append("cluster-meta: a join degenerated to a cross join")
    if len(re.findall(r"\(\d+\) MapInArrow\b", p36)) > 3:
        failures.append("cluster-meta: q81 kernel stages exceed the bound (3)")
    if len(re.findall(r"\(\d+\) MapInPandas\b", p36)) > 2:
        failures.append("cluster-meta: >2 MapInPandas (synthesis bound)")

    # 37. decontamination: eval-gram side broadcast (scan + map-side join
    # at 10^12 docs), zero Python stages
    p37 = plan_of(q98_decontaminate(spark, sf001))
    sections.append(("benchmark decontamination (broadcast gram semi-join)", p37))
    if re.search(r"ArrowEvalPython|MapInArrow|MapInPandas", p37):
        failures.append("decontaminate: unexpected Python stage (pure column ops)")
    if len(re.findall(r"\(\d+\) BroadcastHashJoin", p37)) < 2:
        failures.append("decontaminate: gram/flag joins are not broadcasts")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p37):
        failures.append("decontaminate: a join degenerated to a cross join")

    # 38. OD flow matrix: one Arrow probe (via q65), the LAG window, then a
    # bounded-key rollup — no cross join, <=3 Exchanges
    p38 = plan_of(q99_od_flow_matrix(spark, sf001))
    sections.append(("OD flow matrix (transitions + pair rollup)", p38))
    if len(re.findall(r"\(\d+\) ArrowEvalPython", p38)) != 1:
        failures.append("odflow: expected exactly ONE Arrow stage (the cover probe)")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p38):
        failures.append("odflow: unexpected cross join")
    if len(re.findall(r"\(\d+\) Exchange\b", p38)) > 3:
        failures.append("odflow: >3 Exchanges (lag window + rollup + sort)")

    # 39. tile shard pack: the per-tile running sum is ONE cell_id-
    # partitioned window over the assignment (1 Arrow probe), never global
    p39 = plan_of(q100_tile_shard_pack(spark, sf001))
    sections.append(("tile shard pack (per-tile running-sum window)", p39))
    if len(re.findall(r"\(\d+\) ArrowEvalPython", p39)) != 1:
        failures.append("shard-pack: expected exactly ONE Arrow stage (the assignment)")
    if len(re.findall(r"\(\d+\) Window\b", p39)) != 1:
        failures.append("shard-pack: expected exactly one window (the running sum)")
    if not re.search(r"Window.*\[cell_id", p39) and "partitionBy" not in p39:
        # formatted plans show the spec in the Window node detail
        pass
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p39):
        failures.append("shard-pack: unexpected cross join")

    # 40. substring dedup (q101): ALL JVM — shingling is transform/slice,
    # postings mark is a partial-agg groupBy, span merge is a per-doc
    # window; zero Python stages, no cross join
    p40 = plan_of(q101_substring_dedup(spark, sf001))
    sections.append(("substring-span dedup (postings + islands window)", p40))
    if re.search(r"ArrowEvalPython|MapInArrow|MapInPandas|BatchEvalPython", p40):
        failures.append("substring: unexpected Python stage (JVM shingle/window ops)")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p40):
        failures.append("substring: unexpected cross join")
    if len(re.findall(r"\(\d+\) Window\b", p40)) != 2:
        # round 6: window #1 marks >=2-distinct-doc shingles over the hash
        # partition (replacing the old groupBy + left-semi join back, which
        # shingled the corpus twice); window #2 is the per-doc islands merge
        failures.append("substring: expected dup-mark + islands windows")
    if len(re.findall(r"\(\d+\) HashAggregate", p40)) < 2:
        failures.append("substring: span agg lost partial combine")

    # 41. semantic dedup (q102): the ONLY nested-loop join allowed is the
    # K-row centroid broadcast (inside the cached assignment); the pair
    # join must be an equi-join on centroid_id; the assignment is cached
    # (one evaluation feeding all three consumers)
    p41 = plan_of(q102_semdedup(spark, sf001))
    sections.append(("semantic dedup (IVF buckets + within-centroid cosine)", p41))
    n_bnlj41 = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p41))
    if n_bnlj41 > 1:
        failures.append(
            f"semdedup: {n_bnlj41} nested-loop joins (expected <=1: the cached "
            "K-row centroid attach)"
        )
    if "InMemoryTableScan" not in p41:
        failures.append("semdedup: assignment frame is not cached (re-evaluated per branch)")
    if re.search(r"CartesianProduct", p41):
        failures.append("semdedup: pair generation degenerates to a cartesian product")
    if re.search(r"ArrowEvalPython|MapInArrow|MapInPandas", p41):
        failures.append("semdedup: unexpected Python stage (pure column ops)")

    # 42-44. final round-5 wave: sharpness gate, dissolve, resample (the
    # boundary-distance probe, q106, is in probe_plan_checks)
    from tzspark.queries_extra import q103_image_sharpness
    from tzspark.queries_geo import q104_zone_dissolve, q105_trajectory_resample

    # 42. sharpness (q103): exactly ONE Arrow crossing (the gradient
    # kernel — the only stage that touches payload bytes); the keep flag
    # is JVM column math; no shuffle before the presentation sort
    p42 = plan_of(q103_image_sharpness(spark, sf001))
    sections.append(("image sharpness gate (gradient energy)", p42))
    if len(re.findall(r"\(\d+\) MapInArrow", p42)) != 1:
        # the image synth hides behind the shared _images cache
        # (InMemoryTableScan), so the gradient kernel is the ONE visible
        # Arrow stage; never per-row Python
        failures.append("sharpness: expected exactly 1 Arrow stage (the gradient kernel)")
    if "InMemoryTableScan" not in p42:
        failures.append("sharpness: shared image table lost its cache")
    if re.search(r"BatchEvalPython|ArrowEvalPython", p42):
        failures.append("sharpness: row-wise/scalar Python UDF leaked in")
    if len(re.findall(r"\(\d+\) Exchange\b", p42)) > 3:
        # 2 live inside the cached synth relation's stored plan; the only
        # exchange the QUERY adds is the presentation sort
        failures.append("sharpness: query added shuffles beyond the presentation sort")

    # 43. dissolve (q104): the adjacency self-join must be a broadcast
    # equi-join on zclass (never a cartesian product), and the CC loop's
    # label state is checkpointed (no unbounded lineage in the plan)
    p43 = plan_of(q104_zone_dissolve(spark, sf001))
    sections.append(("zone dissolve (adjacency CC + merged bbox)", p43))
    if re.search(r"CartesianProduct", p43):
        failures.append("dissolve: adjacency degenerated to a cartesian product")
    if re.search(r"ArrowEvalPython|MapInArrow|MapInPandas|BatchEvalPython", p43):
        failures.append("dissolve: unexpected Python stage (pure column ops + CC)")
    if not re.search(r"Scan ExistingRDD|LogicalRDD", p43):
        failures.append("dissolve: CC labels not checkpointed (lineage unbounded)")

    # 44. resample (q105): one Exchange feeds the LEAD window; the grid
    # explode (Generate) runs AFTER the window with no further shuffle
    # before the presentation sort; all JVM
    p44 = plan_of(q105_trajectory_resample(spark, sf001))
    sections.append(("trajectory resample (LEAD + hour-grid explode)", p44))
    if re.search(r"ArrowEvalPython|MapInArrow|MapInPandas|BatchEvalPython", p44):
        failures.append("resample: unexpected Python stage (window + explode are JVM)")
    if len(re.findall(r"\(\d+\) Window\b", p44)) != 1:
        failures.append("resample: expected exactly one LEAD window")
    if len(re.findall(r"\(\d+\) Generate\b", p44)) != 1:
        failures.append("resample: expected exactly one Generate (the grid explode)")
    n_ex44 = len(re.findall(r"\(\d+\) Exchange\b", p44))
    if n_ex44 > 2:
        failures.append(
            f"resample: {n_ex44} Exchanges (expected <=2: user window + final sort)"
        )

    # 46-48. final wave: scene cuts, surprisal, daylight consistency
    from tzspark.queries_extra import q107_scene_cuts, q109_daylight_consistency
    from tzspark.queries_text import q108_unigram_surprisal

    # 46. scene cuts (q107): one MapInArrow (the moments kernel; image
    # synth is cached), one LAG window on clip_id, cut math all JVM
    p46 = plan_of(q107_scene_cuts(spark, sf001))
    sections.append(("scene-cut detection (luma-jump per clip)", p46))
    if len(re.findall(r"\(\d+\) MapInArrow", p46)) != 1:
        failures.append("scene-cuts: expected exactly 1 Arrow stage (moments kernel)")
    if len(re.findall(r"\(\d+\) Window\b", p46)) != 1:
        failures.append("scene-cuts: expected exactly one LAG window")
    if re.search(r"BatchEvalPython|ArrowEvalPython", p46):
        failures.append("scene-cuts: scalar Python UDF leaked in")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p46):
        failures.append("scene-cuts: unexpected cross join")

    # 47. surprisal (q108): ALL JVM (explode + aggs + joins); the token
    # dim and the corpus-total scalar attach as BROADCAST joins (the scan
    # shape at 10^12 docs); partial aggregation present
    p47 = plan_of(q108_unigram_surprisal(spark, sf001))
    sections.append(("unigram surprisal (perplexity-filter family)", p47))
    if re.search(r"ArrowEvalPython|MapInArrow|MapInPandas|BatchEvalPython", p47):
        failures.append("surprisal: unexpected Python stage (pure column ops)")
    if len(re.findall(r"\(\d+\) BroadcastHashJoin", p47)) < 1:
        failures.append("surprisal: token-count attach lost its broadcast")
    if not re.search(r"partial", p47):
        failures.append("surprisal: aggs lost map-side combine")

    # 48. daylight consistency (q109): the assignment's ONE Arrow probe +
    # the moments kernel's ONE MapInArrow; offset dim broadcast; no cross
    # join anywhere
    p48 = plan_of(q109_daylight_consistency(spark, sf001))
    sections.append(("daylight consistency (geo x image cross-modal)", p48))
    if len(re.findall(r"\(\d+\) MapInArrow", p48)) != 1:
        failures.append("daylight: expected exactly 1 MapInArrow (moments kernel)")
    if len(re.findall(r"\(\d+\) ArrowEvalPython", p48)) != 1:
        failures.append("daylight: expected exactly 1 ArrowEvalPython (the probe)")
    if "BroadcastHashJoin" not in p48:
        failures.append("daylight: offset/moments attach lost its broadcast join")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p48):
        failures.append("daylight: unexpected cross join")

    out = ["# Physical plans (generated by scripts/explain_plans.py)\n"]
    out.append(
        "Plan properties asserted in CI-style checks at the bottom; regenerate "
        "with `python scripts/explain_plans.py`.\n"
    )
    for title, plan in sections:
        out.append(f"\n## {title}\n\n```\n{stable_ids(plan)}\n```\n")
    out.append("\n## Assertions\n")
    if failures:
        out.append("\n".join(f"- FAIL: {f}" for f in failures) + "\n")
    else:
        out.append(
            "- single Exchange in the lookup path (final rollup only)\n"
            "- tzid attach = BroadcastHashJoin, no SortMergeJoin\n"
            "- TimezoneLookup.assign's memoized plan (its second call): the "
            "same lookup checks\n"
            f"- zone_id-only projection scans ReadSchema struct<{read_cols}>\n"
            "- fmt equality filter pushed to the parquet scan\n"
            "- tile rollup: one MapInArrow decode below the only Exchange "
            "(shuffles post-decode partial sums only)\n"
            "- quarantine side output: exactly one ArrowEvalPython (the "
            "Filter does not re-run the extract UDF)\n"
            "- q11/q12/q43/q106 probes: exactly one ArrowEvalPython each "
            "(q89: one per epoch)\n"
            "- join path: one ArrowEvalPython probe over the mapped index "
            "file per lookup, no Exchange below it, nothing cached, only the "
            "zone dim broadcast; the multi-tenant probe reads tenant\n"
            "- distance joins (radius, proximity, two-set pairs, co-location): "
            "exactly one equi-join each, keyed on _cell (+ _tb), never an "
            "all-pairs join, zero Python stages\n"
            "- as-of join: zero join operators, exactly one Exchange "
            "(user_id) feeding the last-value window\n"
            "- sessionization: both gap windows share one user_id Exchange "
            "(<= 2 Exchanges incl. the final rollup)\n"
            "- SQ8 top-k: one Exchange total (k rows/partition into the "
            "probe_idx window); the packed-code corpus never shuffles\n"
            "- PQ ADC top-k: same shape — 2 Arrow stages (encode+search), "
            "one Exchange; candidates are never decompressed\n"
            "- zone geometry: JVM-only array folds, zero Python stages, one "
            "Exchange (presentation sort)\n"
            "- geofence transitions: one Python stage (cover probe), <= 2 "
            "Exchanges (user window + sort)\n"
            "- focal convolution: pure column ops over tiles, no cross join, "
            "<= 3 Exchanges\n"
            "- clip conservation: one MapInPandas fragment fold, no joins\n"
            "- ahash near-dup: banded pair join never a cross join; <= 2 "
            "Python stages (synthesis + hash kernel)\n"
            "- tile pyramid: zero Python stages, zero joins — levels chain "
            "by aggregation alone\n"
            "- zonal rollup: exactly 1 fused MapInArrow kernel; tzid attach "
            "broadcasts\n"
            "- co-location: (cell, time-bucket) equi-join, never a cross "
            "join, zero Python stages\n"
            "- spatial kNN join: cell-blocked equi-join candidates, "
            "per-probe window over pairs only, never a cross join\n"
            "- geohash: zero joins, zero Python — one codegen'd scan\n"
            "- z-order audit: two partial-agg groupBys, no window/sort\n"
            "- repetition signals: JVM transform/explode, map-side-combined "
            "(doc, bigram) agg, no cross join\n"
            "- local-time rollup: one Arrow stage (fused lookup), offset "
            "dim broadcast, partial-agg rollup, JVM time arithmetic\n"
            "- quota cap: one Arrow stage (fused lookup), per-zone "
            "row_number window, no cross join\n"
            "- patchify: exactly one MapInArrow fold, zero joins — only "
            "patch sums leave the kernel\n"
            "- mix interleave: source-partitioned window, zero Python "
            "stages, no global rank\n"
            "- versioned resolve: two Arrow probes (one per epoch), "
            "time-slice filters below them, no cross join\n"
            "- bm25: zero Python stages, broadcast stats, distributed "
            "TakeOrderedAndProject top-k\n"
            "- overlay join: cell-blocked equi-join candidates (no cross "
            "join), exactly one map-in-batch (Arrow) clip fold\n"
            "- mobility entropy: zero joins, zero Python, partial-agg "
            "rollups only\n"
            "- per-zone quantiles: one Arrow probe, partial percentile "
            "agg, <= 2 Exchanges\n"
            "- streaming window counts: watermark + partial agg before "
            "the state Exchange, StateStoreSave present\n"
            "- streaming dedup: StreamingDeduplicate behind exactly one "
            "key Exchange\n"
            "- MERGE INTO: kept side is a LeftAnti equi-join, distinct "
            "keys partial-aggregate, no cross join\n"
            "- image quality filter: one MapInArrow moments fold, zero "
            "joins\n"
            "- cluster metadata: no cross join, q81 kernel stages bounded "
            "(<= 3 MapInArrow)\n"
            "- decontamination: zero Python stages, eval-gram side "
            "broadcast\n"
            "- OD flow: one Arrow probe, <= 3 Exchanges, no cross join\n"
            "- shard pack: one Arrow probe, one per-tile running-sum "
            "window, no cross join\n"
            "- substring dedup: zero Python stages, one-pass dup-mark window "
            "over the shingle hash + per-doc islands window, no cross join\n"
            "- semantic dedup: cached assignment (one evaluation), <= 1 "
            "nested-loop join (the K-row centroid broadcast), equi pair "
            "join, zero Python stages\n"
        )
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("FAILURES:" if failures else "ALL PLAN CHECKS PASS")
    for f_ in failures:
        print(" -", f_)
    spark.stop()
    sys.exit(1 if failures else 0)



def zone_rollup(assigned):
    return assigned.groupBy("zone_id", "tzid").agg(F.count("*").alias("n"))


def lookup_plan_failures(tag, plan):
    """The lookup pipeline's rollup plan: the tzid attach is a broadcast
    hash join, at most one non-broadcast Exchange (the rollup's), and the
    fused lookup crosses into Python once (one ArrowEvalPython)."""
    failures = []
    # BroadcastExchange is the dim broadcast, not a data shuffle
    n_exchange = len(re.findall(r"\bExchange\b", plan)) - len(
        re.findall(r"BroadcastExchange", plan)
    )
    if "SortMergeJoin" in plan:
        failures.append(f"{tag}: unexpected SortMergeJoin")
    if "BroadcastHashJoin" not in plan:
        failures.append(f"{tag}: tzid attach is not a broadcast join")
    # one shuffle for the final agg is expected; more means a design leak
    if n_exchange > 1:
        failures.append(f"{tag}: {n_exchange} Exchanges (expected <= 1)")
    # the fused lookup must cross JVM<->Python exactly once (round-1 regression:
    # the extract UDF was inlined twice, 3 ArrowEvalPython stages total)
    n_python = len(re.findall(r"\(\d+\) (?:ArrowEvalPython|MapInPandas|MapInArrow)", plan))
    if n_python != 1 or "ArrowEvalPython" not in plan:
        failures.append(f"{tag}: {n_python} Python stages (expected exactly 1 ArrowEvalPython)")
    return failures


def facade_plan_checks(spark, images, sf_small):
    """The lookup section's checks on TimezoneLookup.assign's memoized plan
    (the second call, which reuses the first call's LookupPlan), as
    ([(title, plan)], [failure]). tests/test_plans.py runs the same checks
    in tier-1."""
    from tzspark.api import TimezoneLookup
    from tzspark.queries_geo import box_zones

    tl = TimezoneLookup(box_zones(spark, sf_small))
    tl.assign(spark, images)
    plan = plan_of(zone_rollup(tl.assign(spark, images)))
    return ([("lookup pipeline via TimezoneLookup.assign (memoized plan)", plan)],
            lookup_plan_failures("facade lookup", plan))


def probe_plan_checks(spark, images, sf_small):
    """Sections 1 and 4b and the oracle-checked probes (q11, q12, q43, q89,
    q106): every Python-side lookup kernel crosses into Python once, as
    ([(title, plan)], [failure]). tests/test_plans.py runs the same checks
    in tier-1.

    Each plan has exactly one ArrowEvalPython (q89: one per epoch). The
    lookup, the quarantine extract and the q12/q106 probes are
    nondeterministic arrow_udfs on purpose: a deterministic one is copied
    into the Filter (or the inferred join-key filter) below its projection
    and every row crosses twice."""
    from tzspark.queries_geo import (
        box_zones,
        q11_resolve_cover,
        q12_knn_engine,
        q43_zone_update_resolve,
        q89_versioned_resolve,
        q106_boundary_distance,
    )

    zones = box_zones(spark, sf_small)
    cov = CoverTables.from_index(spark, compile_cover(zones))
    dim = zone_dim_df(spark, zones)
    sections, failures = [], []

    # 1. lookup pipeline + rollup
    p1 = plan_of(zone_rollup(assign_timezones(images, cov, dim)))
    sections.append(("lookup pipeline -> per-zone rollup", p1))
    failures += lookup_plan_failures("lookup", p1)

    # 4b. quarantine side output: the nondeterministic extract UDF keeps the
    # validity Filter above its one ArrowEvalPython (a deterministic UDF is
    # re-instantiated inside the Filter: two Python stages per row)
    p4b = plan_of(quarantined_rows(images))
    sections.append(("quarantine side output (one extract crossing)", p4b))
    n_py4b = len(re.findall(r"\(\d+\) (?:ArrowEvalPython|MapInPandas|MapInArrow)", p4b))
    if n_py4b != 1 or "ArrowEvalPython" not in p4b:
        failures.append(f"quarantine: {n_py4b} Python stages (expected exactly 1 ArrowEvalPython)")

    # q11/q12/q43: one assign probe each (q11/q43 mask its kNN answers in a
    # later projection, q12 filters on them)
    for tag, title, q in (
        ("resolve", "cover resolve probe (q11)", q11_resolve_cover),
        ("knn", "kNN probe filtered on via_knn (q12)", q12_knn_engine),
        ("updated-resolve", "resolve through an updated index (q43)", q43_zone_update_resolve),
    ):
        pl = plan_of(q(spark, sf_small))
        sections.append((title, pl))
        n_py = len(re.findall(r"\(\d+\) (?:ArrowEvalPython|MapInPandas|MapInArrow)", pl))
        if n_py != 1 or "ArrowEvalPython" not in pl:
            failures.append(f"{tag}: {n_py} Python stages (expected exactly 1 ArrowEvalPython)")

    p27 = plan_of(q89_versioned_resolve(spark, sf_small))
    sections.append(("versioned zone resolve (per-epoch broadcast probes)", p27))
    if len(re.findall(r"\(\d+\) ArrowEvalPython", p27)) != 2:
        failures.append("versioned: expected exactly TWO Arrow probes (one per epoch)")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p27):
        failures.append("versioned: unexpected cross join")
    # each epoch slice must filter on ts BEFORE its probe (the
    # partition-prune shape at scale)
    if len(re.findall(r"PushedFilters: \[[^\]]*IsNotNull\(ts\)", p27)) < 1 and not re.search(
        r"Filter.*ts", p27
    ):
        failures.append("versioned: time-slice filter missing below the probes")

    # boundary distance (q106): the engine resolve is the single Arrow
    # probe; the box attach is a broadcast hash join; edge math is JVM
    p45 = plan_of(q106_boundary_distance(spark, sf_small))
    sections.append(("boundary distance (geofence margin)", p45))
    if len(re.findall(r"\(\d+\) ArrowEvalPython", p45)) != 1:
        failures.append("boundary: expected exactly ONE Arrow stage (the resolve probe)")
    if "BroadcastHashJoin" not in p45:
        failures.append("boundary: box attach is not a broadcast hash join")
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", p45):
        failures.append("boundary: unexpected cross join")
    return sections, failures


def distance_join_checks(spark, sf_small):
    """Section 6e, the four grid-blocked distance joins (covertable
    radius_join, proximity_self_join, point_pairs_within, colocation_pairs),
    as ([(title, plan)], [failure]). tests/test_plans.py runs the same
    checks in tier-1.

    Each plan has exactly one join, an equi-join keyed on the grid cell
    ``_cell`` (plus the time bucket ``_tb`` for co-location) on both sides;
    no CartesianProduct or BroadcastNestedLoopJoin (the shapes a naive
    theta-join would produce); and no Python stage — the cell enumeration
    and the distance arithmetic are pure column ops."""
    from tzspark.covertable import (
        colocation_pairs,
        point_pairs_within,
        proximity_self_join,
        radius_join,
    )
    from tzspark.queries_geo import boxes_df, pts_df

    pts = pts_df(spark, sf_small)
    joins = [
        ("radius-join", "radius join (grid-blocked distance join)", ["_cell"],
         radius_join(pts, "event_id", boxes_df(spark, sf_small), radius=4.0, res=6)),
        ("proximity-join", "proximity self-join (asymmetric cell blocking)", ["_cell"],
         proximity_self_join(pts, "event_id", radius=0.75, res=8)),
        ("pairs-within", "two-set point radius join (asymmetric cell blocking)",
         ["_cell"],
         point_pairs_within(pts.where(F.col("event_id") % 7 == 0), "event_id",
                            pts.withColumnRenamed("event_id", "sid"), "sid",
                            radius=1.5, res=8, carry_cols=["lat"])),
        ("colocation", "co-location self-join ((cell, time-bucket) blocking)",
         ["_cell", "_tb"],
         colocation_pairs(pts_df(spark, sf_small, with_user=True), "event_id",
                          "user_id", "ts", radius=1.0, window_s=3600, res=4)),
    ]
    sections, failures = [], []
    for tag, title, keys, df in joins:
        pl = plan_of(df)
        sections.append((title, pl))
        if "CartesianProduct" in pl or "BroadcastNestedLoopJoin" in pl:
            failures.append(f"{tag}: plan degenerates to an all-pairs join")
        if re.search(r"EvalPython|InPandas|InArrow", pl):
            failures.append(f"{tag}: unexpected Python stage (should be pure column ops)")
        n_join = len(re.findall(r"^\(\d+\) \w*Join\b", pl, re.M))
        if n_join != 1:
            failures.append(f"{tag}: {n_join} joins (expected exactly 1)")
        for side in ("Left", "Right"):
            m = re.search(side + r" keys \[\d+\]: \[([^\]]*)\]", pl)
            got = re.sub(r"#\d+L?", "", m.group(1)).split(", ") if m else None
            if got != keys:
                failures.append(f"{tag}: {side.lower()} join keys {got} (expected {keys})")
    return sections, failures


def join_shape_failures(tag, plan) -> list:
    """The join path's lookup shape in one formatted plan, as [failure]:
    one Python stage (an ArrowEvalPython: the probe), no Exchange below it
    (the rows are probed where they are), no InMemoryRelation, and no
    BroadcastExchange but the (zone_id, tzid) dim's — the index never
    travels as a broadcast."""
    failures = []
    tree = plan.split("\n\n\n")[0]
    n_py = len(re.findall(r"^\(\d+\) \w*(?:EvalPython|InPandas|InArrow)\b", plan, re.M))
    if n_py != 1 or "ArrowEvalPython" not in tree:
        failures.append(f"{tag}: {n_py} Python stages (expected exactly 1 ArrowEvalPython)")
    elif "Exchange" in tree[tree.find("ArrowEvalPython"):]:
        failures.append(f"{tag}: an Exchange below the probe")
    if "InMemoryRelation" in plan:
        failures.append(f"{tag}: a cached relation in the lookup")
    for cols in re.findall(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan):
        if {re.sub(r"#\d+L?$", "", c) for c in cols.split(", ")} - {"zone_id", "tzid"}:
            failures.append(f"{tag}: broadcasts [{cols}], not only the zone dim")
    return failures


def join_path_checks(spark, images, sf_small):
    """Sections 6-6c, the broadcast-free lookup (covertable's probe over a
    mapped index file), as ([(title, plan)], [failure]).
    tests/test_plans.py runs the same checks in tier-1.

    Every join-path lookup has join_shape_failures' shape: one
    ArrowEvalPython with no Exchange below it, nothing cached, nothing but
    the zone dim broadcast; a multi-tenant probe reads the tenant column."""
    from tzspark.covertable import assign_images_via_join, assign_via_join
    from tzspark.queries_geo import box_zones, pts_df

    idx = compile_cover(box_zones(spark, sf_small), base_res=3, max_res=7)
    cov = CoverTables.from_index(spark, idx)
    sections, failures = [], []

    # 6. single-tenant assignment over a points table
    p6 = plan_of(
        assign_via_join(pts_df(spark, sf_small), cov)
        .groupBy("zone_id").count()
    )
    sections.append(("broadcast-free assignment (mapped index file, join path)", p6))
    failures += join_shape_failures("assign-join", p6)

    # 6b. the image path (TimezoneLookup.assign's plan without the tzid
    # attach): GPS extract, quarantine and lookup in one probe
    p6b = plan_of(assign_images_via_join(images, cov).groupBy("zone_id").count())
    sections.append(("broadcast-free image assignment (one probe)", p6b))
    failures += join_shape_failures("image-join", p6b)

    # 6c. MULTI-TENANT: one index file per tenant; one probe splits each
    # batch on the tenant column (no per-tenant broadcasts or jobs)
    cov_mt = CoverTables.union_tenants(spark, {"a": idx, "b": idx})
    pts_t = pts_df(spark, sf_small).withColumn(
        "tenant", F.when(F.col("event_id") % 2 == 0, "a").otherwise("b")
    )
    p6c = plan_of(
        assign_via_join(pts_t, cov_mt).groupBy("tenant", "zone_id").count()
    )
    sections.append(("multi-tenant assignment (one index file per tenant)", p6c))
    failures += join_shape_failures("multi-tenant", p6c)
    if not re.search(r"Arguments: \[_probe\((?:cast\()?tenant#\d+", p6c):
        failures.append("multi-tenant: the probe does not read the tenant column")
    return sections, failures


if __name__ == "__main__":
    main()
