"""tzspark benchmark: one closed-loop client runs one workload per process.

    python3 perfbench/run.py --workload world_assign_broadcast --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Each op starts after the previous one returns.
The seed offsets the row-index range the inputs are drawn from
(datasets.synth_coords / synth_images_pdf, dbscan.planted_points), so one seed
always gives the same inputs. Every op's output is checked; the last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``). The lines above it repeat each metric by name and unit
and record the run's context. A traced run also writes its spans to
.perfbench_out/. Workloads, sizes and the per-layer map are described in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import BROADCAST, DBSCAN, DRIVER, END_TO_END, JOIN, PER_LAYER, WORKLOADS  # noqa: E402
from probes import (  # noqa: E402
    ProcMonitor, git_commit, host_cpu, source_digest, spark_group_metrics, spark_task_ms,
    steal_share, wait_quiet)
from tracing import Tracer  # noqa: E402

CORES = min(2, os.cpu_count() or 1)  # Spark runs at local[CORES]
ROW_STRIDE = 1 << 24  # seed s draws row indices from [(s % SEEDS) * ROW_STRIDE, ...)
SEEDS = 50_001  # keeps image ids inside datasets' 12-digit format
# The world zone set (zones.make_world_zones: 24k polygons) cut to the window
# that holds the images' five hot spots (datasets.HOT): 480 polygons, 24
# tzids, 96k vertices. Around the hot spots the polygons are the world's own,
# so the kNN share stays near the full world's (68% vs 64%).
WINDOW = (0.0, 24.0, 0.0, 36.0)  # lat0, lat1, lng0, lng1 of a polygon's bbox centre
# images per op; the join path's op cost is almost all fixed (cover-table
# joins), so it gets fewer images and more ops per run
N_IMAGES = {BROADCAST: 40_000, JOIN: 10_000}
IMAGE_FILES = 8
PARTITIONS = 2 * CORES  # two tasks per core, so one straggler does not set a job
SETUPS = 5  # per run; setup_s is their median, so the cold first one never sets it
# untimed ops after the gate op (itself the first, cold op of a Spark run)
WARMUP_OPS = {BROADCAST: 3, JOIN: 1, DRIVER: 1, DBSCAN: 1}
# geo_dbscan as bench.py's geo_dbscan_300k row runs it, over fewer points
N_POINTS = 10_000
EPS, MIN_PTS, DBSCAN_RES = 0.05, 4, 10
# traced join and geo_dbscan ops in world_assign_broadcast's traced run, each
# after one untimed (gate or cold) op; more would push that run past 180 s
SIDE_TRACED_OPS = 1
PROBES = 2048  # distinct single-point searches per driver cycle
BULK = 100_000  # coordinates per search_many batch
ORACLE_SAMPLE = 500  # images checked against zones.oracle_assign
REPLAYS = 3  # driver-side kernel replays per traced world run
# A timed op whose CPU steal share (host-wide, from /proc/stat) exceeds
# STEAL_MAX ran partly while the hypervisor served other tenants; the gated
# medians leave such ops out when at least MIN_KEPT_OPS others remain.
STEAL_MAX = 0.02
MIN_KEPT_OPS = 3
ARROW_BATCH = 4000  # engine.get_spark's spark.sql.execution.arrow.maxRecordsPerBatch


T0 = time.perf_counter()


def log(msg: str):
    print(f"[perfbench +{time.perf_counter() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def world_zones() -> list:
    from tzspark.zones import make_world_zones

    lat0, lat1, lng0, lng1 = WINDOW
    return [z for z in make_world_zones()
            if lat0 <= (z.ring_lat.min() + z.ring_lat.max()) / 2 <= lat1
            and lng0 <= (z.ring_lng.min() + z.ring_lng.max()) / 2 <= lng1]


class Workload:
    """Shared run skeleton: inputs, repeated set-up, warm-up, a timed closed
    loop (alternating traced and untraced ops when tracing), a final gate."""

    def __init__(self, name: str, seed: int, tracer: Tracer, work: str):
        self.name, self.seed, self.tr, self.work = name, seed, tracer, work
        self.off = seed % SEEDS * ROW_STRIDE  # any integer seed is accepted
        self.attempted = 0
        self.failed = 0
        self.op_s = {False: [], True: []}  # traced? -> op wall times
        self.op_groups = {False: [], True: []}  # traced? -> the timed ops' group names
        self.op_steal = []  # CPU steal share of each untraced timed op
        self.timed = False  # inside the timed section: ops record their samples
        self.monitor = ProcMonitor()

    def check(self, ok: bool, what: str):
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"WRONG OUTPUT: {what}")

    def run(self, seconds: float, trace: bool) -> dict:
        from tzspark.hostcal import fault_probe

        self.inputs()
        self.start()
        self.tr.active = trace
        setup_s = []
        for k in range(SETUPS):
            self.tr.group = f"setup{k}"
            t = time.perf_counter()
            with self.tr.span("setup"):
                self.setup(k)
            setup_s.append(time.perf_counter() - t)
        self.tr.active = False
        log(f"setup_s {[round(s, 3) for s in setup_s]}")
        self.expect()
        t = time.perf_counter()
        self.gate()
        log(f"gate op: {time.perf_counter() - t:.3f} s")
        for k in range(WARMUP_OPS[self.name]):
            t = time.perf_counter()
            self.op(f"warm{k}")
            log(f"warm-up op {k}: {time.perf_counter() - t:.3f} s")
        quiet = wait_quiet()
        log(f"quiet after {quiet[0]:.1f} s: cpu share {quiet[1]:.3f}, fault probe {quiet[2]}")
        fault_before, cpu_before = fault_probe(), host_cpu()
        self.timed = True
        deadline = time.perf_counter() + seconds
        k = 0
        # at least 2 ops, and 2 untraced plus 2 traced ones when tracing
        while time.perf_counter() < deadline or k < (4 if trace else 2):
            traced = trace and k % 2 == 1
            self.tr.active, self.tr.group = traced, f"op{k}"
            t, cpu = time.perf_counter(), host_cpu()
            self.op(f"op{k}")
            self.op_s[traced].append(time.perf_counter() - t)
            self.op_groups[traced].append(f"op{k}")
            if not traced:
                self.op_steal.append(steal_share(cpu, host_cpu()))
            self.tr.active = False
            k += 1
        self.timed = False
        fault_after, steal = fault_probe(), steal_share(cpu_before, host_cpu())
        log(f"timed ops {k}: {[round(s, 3) for s in self.op_s[False]]}")
        if trace:
            self.traced_extra()
        self.monitor.sample()
        return {"setup_s": statistics.median(setup_s), "fault_before": fault_before,
                "fault_after": fault_after, "steal": steal, "quiet_wait_s": quiet[0],
                "quiet_cpu_share": quiet[1]}

    def kept_ops(self) -> list:
        """(group, seconds) of the untraced timed ops the gated medians use:
        those with a steal share of at most STEAL_MAX, if there are at least
        MIN_KEPT_OPS of them, else all of them."""
        ops = list(zip(self.op_groups[False], self.op_s[False], self.op_steal))
        kept = [o for o in ops if o[2] <= STEAL_MAX]
        return [o[:2] for o in (kept if len(kept) >= MIN_KEPT_OPS else ops)]

    def trace_overhead(self) -> float:
        return statistics.median(self.op_s[True]) / statistics.median(self.op_s[False]) - 1

    def start(self):
        pass

    def gate(self):
        pass  # ops that check their whole answer need no gate op

    def traced_extra(self):
        pass  # more traced work after the timed section

    def extra(self) -> list:
        """(name, value, unit) printed beside the gated metrics."""
        return []

    def close(self):
        pass


class SparkWorkload(Workload):
    """A workload that drives a local Spark session: one job group per op,
    and Spark's own per-task and per-stage figures from its status API."""

    spark = None

    def start(self):
        from tzspark.engine import get_spark

        self.monitor.start()
        local = os.path.join(self.work, "spark-local")
        os.environ["SPARK_LOCAL_DIRS"] = local  # it would override spark.local.dir
        jvm_opts = f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own launcher JVM
        t = time.perf_counter()
        self.spark = get_spark(
            app=f"perfbench-{self.name}", master=f"local[{CORES}]",
            shuffle_partitions=PARTITIONS,
            extra_conf={
                # a fixed heap well under this box's memory: the default 32g
                # lets JVM RSS float with GC
                "spark.driver.memory": "2g",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": jvm_opts,
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")

    def job(self, group: str):
        self.spark.sparkContext.setJobGroup(f"perfbench-{group}", group)

    def release(self):
        """Drop every checkpointed or cached block, so that a repeated
        set-up starts from the same memory state as the first."""
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def task_ms_p50(self) -> float:
        """Median duration of the tasks that did each kept op's main work."""
        return statistics.median(spark_task_ms(
            self.spark.sparkContext, [f"perfbench-{g}" for g, _ in self.kept_ops()]))

    def spark_layers(self) -> dict:
        groups = self.op_groups[False] + self.op_groups[True]
        per_op = spark_group_metrics(self.spark.sparkContext,
                                     [f"perfbench-{g}" for g in groups])
        self.spark_per_op = per_op
        out = {name: statistics.median(m[name] for m in per_op.values())
               for name in next(iter(per_op.values()), {})}
        out["spark.session_start.s"] = self.session_s
        out["jvm_peak_rss_mb"] = self.monitor.jvm_mb()
        return out

    def close(self):
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            # the JVM outlives stop() until its stdin closes: end it and wait
            gateway = SparkContext._gateway
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
        self.monitor.stop()


class World(SparkWorkload):
    """The image table through TimezoneLookup.assign (broadcast) or
    assign_join (cover tables), rolled up per tzid."""

    def inputs(self):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tzspark.datasets import synth_coords, synth_images_pdf

        self.zones = world_zones()
        self.n = N_IMAGES[self.name]
        ids = self.off + np.arange(self.n, dtype=np.int64)
        self.img_path = os.path.join(self.work, "images")
        os.makedirs(self.img_path)
        for p, part in enumerate(np.array_split(ids, IMAGE_FILES)):
            pq.write_table(pa.Table.from_pandas(synth_images_pdf(part), preserve_index=False),
                           os.path.join(self.img_path, f"part-{p:03d}.parquet"))
        self.lat, self.lng = synth_coords(ids)

    def setup(self, k: int):
        from tzspark.api import TimezoneLookup

        if k:
            self.release()
        with self.tr.span("api.TimezoneLookup"):
            self.tl = TimezoneLookup(self.zones)
        if self.name == JOIN:
            self.tl.cover_tables(self.spark)  # memoized on tl for every op
        with self.tr.span("input.read"):
            self.img = (self.spark.read.parquet(self.img_path)
                        .repartition(PARTITIONS).localCheckpoint())

    def expect(self):
        """Expected answers from the driver-side kernels, themselves checked on
        a fixed sample against the independent full-PIP oracle."""
        import numpy as np

        from tzspark.cells import resolve_points
        from tzspark.zones import oracle_assign

        self.zid = self.tl.search_many(self.lat, self.lng)
        sample = np.linspace(0, self.n - 1, ORACLE_SAMPLE).astype(np.int64)
        oracle = oracle_assign(self.zones, self.lat[sample], self.lng[sample])
        self.check(np.array_equal(oracle, self.zid[sample]), "search_many vs oracle_assign")
        via_knn = resolve_points(self.tl.idx, self.lat, self.lng) == -1
        tz = {int(z.zone_id): z.tzid for z in self.zones}
        self.rollup = {}
        for z, k in zip(self.zid.tolist(), via_knn.tolist()):
            n, nk = self.rollup.get(tz[z], (0, 0))
            self.rollup[tz[z]] = (n + 1, nk + int(k))

    def assigned(self):
        if self.name == BROADCAST:
            return self.tl.assign(self.spark, self.img)
        return self.tl.assign_join(self.spark, self.img)

    def op(self, group: str):
        from pyspark.sql import functions as F

        self.job(group)
        span = "engine.assign" if self.name == BROADCAST else "covertable.assign_images_via_join"
        try:
            with self.tr.span(span):
                rows = self.assigned().groupBy("tzid").agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("via_knn").cast("long")).alias("n_knn"),
                ).collect()
            got = {r["tzid"]: (r["n"], r["n_knn"]) for r in rows}
            self.check(got == self.rollup, f"{group} per-tzid rollup")
        except Exception as e:  # a failed job counts as a failed op
            self.check(False, f"{group} raised {e!r}")
        # assign_join persists its intermediates and leaves them cached;
        # release them so each op starts from the same memory state
        self.spark.catalog.clearCache()

    def gate(self):
        """Per-image zone_id of the Spark path equals the driver answers. It
        runs once, as the run's first op; the timed ops check a rollup."""
        import numpy as np

        self.job("gate")
        try:
            pdf = self.assigned().select("image_id", "zone_id").toPandas()
            rows = pdf["image_id"].str[3:].astype(np.int64).to_numpy() - self.off
            got = np.full(self.n, -2, dtype=np.int64)
            got[rows] = pdf["zone_id"].to_numpy()
            self.check(len(pdf) == self.n and np.array_equal(got, self.zid),
                       "per-image zone_id vs driver answers")
        except Exception as e:
            self.check(False, f"gate raised {e!r}")
        self.spark.catalog.clearCache()

    def traced_extra(self):
        """world_assign_broadcast's traced run also drives the join path and
        geo_dbscan in the same session, each checked as in its own run, so
        that the covertable and queries_text layers are measured on a gated
        workload."""
        if self.name != BROADCAST:
            return
        for side in (World(JOIN, self.seed, self.tr, os.path.join(self.work, JOIN)),
                     Dbscan(DBSCAN, self.seed, self.tr, os.path.join(self.work, DBSCAN))):
            os.makedirs(side.work)
            side.spark = self.spark
            side.inputs()
            self.tr.active, self.tr.group = True, f"{side.name}-setup"
            side.setup(0)
            self.tr.active = False
            side.expect()
            if side.name == JOIN:
                side.gate()
            else:
                side.op(f"{side.name}-cold")
            self.tr.active = True
            for k in range(SIDE_TRACED_OPS):
                self.tr.group = f"{side.name}{k}"
                side.op(f"{side.name}{k}")
            self.tr.active = False
            self.attempted += side.attempted
            self.failed += side.failed

    def replay(self) -> dict:
        """Driver-side replay of the probe kernels over the same images in
        the Arrow batch shape the Spark path uses; a median over REPLAYS."""
        import numpy as np
        import pyarrow.parquet as pq

        from tzspark.cells import knn_fallback, resolve_points
        from tzspark.imagecodec import HEADER_LEN, extract_gps_batch

        hdrs = [b[:HEADER_LEN] for b in pq.read_table(self.img_path, columns=["bytes"])
                .column("bytes").to_pylist()]
        self.tr.active = True
        for r in range(REPLAYS):
            self.tr.group = f"replay{r}"
            for lo in range(0, len(hdrs), ARROW_BATCH):
                with self.tr.span("imagecodec.extract_gps_batch"):
                    lat, lng, _ = extract_gps_batch(hdrs[lo: lo + ARROW_BATCH])
                if self.name == JOIN:
                    continue  # the join path resolves relationally, not in these kernels
                with self.tr.span("cells.resolve_points") as s:
                    z = resolve_points(self.tl.idx, lat, lng)
                    un = z == -1
                    s["counts"]["unresolved"] = int(un.sum())
                if un.any():
                    with self.tr.span("cells.knn_fallback") as s:
                        knn_fallback(self.tl.idx, lat[un], lng[un])
                        s["counts"]["rows"] = int(un.sum())
        self.tr.active = False
        kern = {n: self.tr.median(n) for n in (
            "imagecodec.extract_gps_batch", "cells.resolve_points", "cells.knn_fallback")}
        out = {f"{n}.s": v for n, v in kern.items()}
        out["cells.resolve_points.unresolved"] = self.tr.median("cells.resolve_points", "unresolved")
        out["cells.knn_fallback.rows"] = self.tr.median("cells.knn_fallback", "rows")
        if self.name == BROADCAST:
            assign_s = self.tr.median("engine.assign")
            out["engine.assign.s"] = assign_s
            out["engine.overhead_s"] = assign_s - sum(kern.values()) / CORES
        return out

    def layers(self) -> dict:
        out = self.replay()
        out.update(self.spark_layers())
        out.update(Dbscan.layers_of(self.tr))
        join = "covertable.assign_images_via_join"
        out[f"{join}.s"] = self.tr.median(join)
        groups = sorted({s["group"] for s in self.tr.spans if s["name"] == join})
        if groups:  # the boundary exchange of the join path (ROADMAP item 3)
            per_op = spark_group_metrics(self.spark.sparkContext,
                                         [f"perfbench-{g}" for g in groups])
            out[f"{join}.shuffle_write_bytes"] = statistics.median(
                m["spark.shuffle_write_bytes"] for m in per_op.values())
        return out

    def end_to_end(self) -> dict:
        return {"rows_per_s": self.n / statistics.median(s for _, s in self.kept_ops()),
                "op_ms_p50": self.task_ms_p50()}


class Dbscan(SparkWorkload):
    """covertable.geo_dbscan over bench.py's planted-cluster stream; every
    op's per-point role and cluster id is checked against dbscan.py's exact
    numpy answer."""

    def inputs(self):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from dbscan import planted_points

        self.key, self.lat, self.lng = planted_points(self.off + np.arange(N_POINTS))
        self.pts_path = os.path.join(self.work, "points")
        os.makedirs(self.pts_path)
        pq.write_table(pa.table({"event_id": self.key, "lat": self.lat, "lng": self.lng}),
                       os.path.join(self.pts_path, "part-000.parquet"))

    def setup(self, k: int):
        if k:
            self.release()
        with self.tr.span("input.read"):
            self.pts = (self.spark.read.parquet(self.pts_path)
                        .repartition(PARTITIONS).localCheckpoint())

    def expect(self):
        from dbscan import reference_dbscan

        self.ref = reference_dbscan(self.key, self.lat, self.lng, EPS, MIN_PTS)

    def op(self, group: str):
        from tzspark.covertable import geo_dbscan

        self.job(group)
        try:
            with self.tr.span("covertable.geo_dbscan"):
                pdf = geo_dbscan(self.pts, "event_id", eps=EPS, min_pts=MIN_PTS,
                                 res=DBSCAN_RES).toPandas()
            self.check(self.matches(pdf), f"{group} per-point role and cluster_id")
        except Exception as e:  # a failed job counts as a failed op
            self.check(False, f"{group} raised {e!r}")
        self.spark.catalog.clearCache()

    def matches(self, pdf) -> bool:
        """geo_dbscan's output holds every point once, with the reference
        role and cluster_id."""
        import numpy as np

        pdf = pdf.sort_values("event_id")
        role = pdf["role"].map({"core": 0, "border": 1, "noise": 2}).to_numpy()
        return (np.array_equal(pdf["event_id"].to_numpy(), self.key)
                and np.array_equal(role, self.ref["role"])
                and np.array_equal(pdf["cluster_id"].to_numpy(), self.ref["cluster_id"]))

    @staticmethod
    def layers_of(tr: Tracer) -> dict:
        out = {f"{n}.s": tr.median(n) for n in (
            "covertable.proximity_self_join", "queries_text.min_label_cc")}
        out["covertable.proximity_self_join.pairs"] = tr.median(
            "covertable.proximity_self_join", "pairs")
        for c in ("rounds", "edges"):
            out[f"queries_text.min_label_cc.{c}"] = tr.median("queries_text.min_label_cc", c)
        return out

    def layers(self) -> dict:
        out = self.layers_of(self.tr)
        out.update(self.spark_layers())
        return out

    def end_to_end(self) -> dict:
        return {"rows_per_s": N_POINTS / statistics.median(s for _, s in self.kept_ops()),
                "op_ms_p50": self.task_ms_p50()}


class Driver(Workload):
    """TimezoneLookup as a library, no Spark: single-point search calls, bulk
    search_many batches and replace_zone writes on the live index."""

    def inputs(self):
        import numpy as np

        from tzspark.datasets import synth_coords

        self.zones = world_zones()
        self.plat, self.plng = synth_coords(self.off + np.arange(PROBES))
        self.blat, self.blng = synth_coords(self.off + PROBES + np.arange(BULK))
        self.samples = {}  # timed op -> (search_ms list, bulk_s, update_s)

    def setup(self, k: int):
        from tzspark.api import TimezoneLookup

        with self.tr.span("api.TimezoneLookup"):
            self.tl = TimezoneLookup(self.zones)

    def expect(self):
        """Two versions of the zone the probes reach most: as built, and moved
        onto a probe point that no zone contains, so the write changes that
        point's answer. The answers for each come from the full-PIP oracle
        (probes) and from a fresh compile (bulk batch)."""
        import numpy as np

        from tzspark.api import TimezoneLookup
        from tzspark.cells import Zone, resolve_points
        from tzspark.zones import oracle_assign

        now = self.tl.search_many(self.plat, self.plng)
        ids, counts = np.unique(now, return_counts=True)
        target = int(ids[np.argmax(counts)])
        z = next(z for z in self.zones if z.zone_id == target)
        open_pts = (resolve_points(self.tl.idx, self.plat, self.plng) == -1) & (now != target)
        i = int(np.flatnonzero(open_pts)[0])
        moved = Zone(z.zone_id, z.tzid,
                     (z.ring_lat - z.ring_lat.mean() + self.plat[i]).astype(np.float32),
                     (z.ring_lng - z.ring_lng.mean() + self.plng[i]).astype(np.float32))
        self.versions = [z, moved]
        self.state = 0
        tz = {int(q.zone_id): q.tzid for q in self.zones}
        self.probe_ids, self.probe_names, self.bulk_ids = [], [], []
        for v in self.versions:
            zs = [v if q.zone_id == target else q for q in self.zones]
            ids = oracle_assign(zs, self.plat, self.plng)
            self.probe_ids.append(ids)
            self.probe_names.append([tz[int(i)] for i in ids])
            tl = self.tl if v is z else TimezoneLookup(zs)
            self.bulk_ids.append(tl.search_many(self.blat, self.blng))
        self.check(not np.array_equal(self.probe_ids[0], self.probe_ids[1]),
                   "the replaced zone changes some probe answers")

    def op(self, group: str):
        import numpy as np

        tl, st = self.tl, self.state
        search_ms = []
        for i in range(PROBES):
            t = time.perf_counter()
            name = tl.search(float(self.plat[i]), float(self.plng[i])).name
            search_ms.append((time.perf_counter() - t) * 1e3)
            self.check(name == self.probe_names[st][i], f"{group} search probe {i}")
        with self.tr.span("api.TimezoneLookup.search_many"):
            t = time.perf_counter()
            z = tl.search_many(self.blat, self.blng)
            bulk_s = time.perf_counter() - t
        self.check(np.array_equal(z, self.bulk_ids[st]), f"{group} search_many bulk")
        self.state = st = 1 - st
        t = time.perf_counter()
        tl.replace_zone(self.versions[st])
        update_s = time.perf_counter() - t
        if self.timed:  # warm-up ops leave no samples
            self.samples[group] = (search_ms, bulk_s, update_s)
        # re-check after the write; the next op's searches check search itself
        was = self.tr.active
        self.tr.active = False
        self.check(np.array_equal(tl.search_many(self.plat, self.plng), self.probe_ids[st]),
                   f"{group} search_many probes after replace_zone")
        self.tr.active = was

    def layers(self) -> dict:
        out = {f"{n}.s": self.tr.median(n) for n in (
            "cells.resolve_points", "cells.knn_fallback", "cells.replace_zone",
            "api.TimezoneLookup.search_many")}
        out["cells.resolve_points.unresolved"] = self.tr.median("cells.resolve_points", "unresolved")
        out["cells.knn_fallback.rows"] = self.tr.median("cells.knn_fallback", "rows")
        return out

    def end_to_end(self) -> dict:
        # The gated per-call latency is the write's. A search call is about
        # 0.15 ms of Python, which a contended host CPU slows by up to 1.8x
        # for tens of seconds at a time: over 20 s windows of one process its
        # median latency spread 0.26 (quartile distance over median), its
        # 25th percentile 0.47, and replace_zone's median 0.08.
        _, bulk_s, update_s = self.kept_samples()
        return {"rows_per_s": BULK / statistics.median(bulk_s),
                "op_ms_p50": statistics.median(update_s) * 1e3}

    def kept_samples(self) -> tuple:
        """search latencies (ms), search_many times and replace_zone times
        (s) of the kept ops."""
        kept = [self.samples[g] for g, _ in self.kept_ops()]
        return ([t for ms, _, _ in kept for t in ms], [b for _, b, _ in kept],
                [u for _, _, u in kept])

    def extra(self) -> list:
        import numpy as np

        search_ms, _, update_s = self.kept_samples()
        return [("search_ms_p50", statistics.median(search_ms), "ms"),
                ("search_ms_p99", float(np.percentile(search_ms, 99)), "ms"),
                ("update_s_p50", statistics.median(update_s), "s"),
                ("search_calls", len(search_ms), "count"),
                ("update_calls", len(update_s), "count")]


def install_patches(tr: Tracer):
    """Spans around the eager public functions each workload reaches. The
    Spark ops are spanned where the benchmark drives them (run() and op())."""
    import tzspark.api as api
    import tzspark.cells as cells
    import tzspark.covertable as covertable
    import tzspark.queries_text as queries_text
    from tzspark.covertable import CoverTables

    tr.patch(api, "compile_cover", "cells.compile_cover")
    tr.patch(api, "resolve_points", "cells.resolve_points",
             lambda a, out: {"unresolved": int((out == -1).sum())})
    tr.patch(api, "knn_fallback", "cells.knn_fallback", lambda a, out: {"rows": len(a[1])})
    tr.patch(cells, "replace_zone", "cells.replace_zone")  # api imports it per call
    tr.patch(CoverTables, "from_index", "covertable.CoverTables.from_index")
    tr.patch(api.TimezoneLookup, "search", "api.TimezoneLookup.search")
    tr.replace(covertable, "proximity_self_join", _eager_pairs(tr, covertable.proximity_self_join))
    # geo_dbscan imports min_label_cc per call, so the module attribute is the one it uses
    tr.patch(queries_text, "min_label_cc", "queries_text.min_label_cc",
             lambda a, out: {"rounds": out[1], "edges": a[0].count()})


def _eager_pairs(tr: Tracer, fn):
    """proximity_self_join returns a lazy plan that geo_dbscan materializes
    later. Traced, the wrapper materializes it inside its span, so the span
    holds the pair join's own time; the pair count is taken after the span."""

    def traced(*args, **kwargs):
        if not tr.active:
            return fn(*args, **kwargs)
        with tr.span("covertable.proximity_self_join") as rec:
            out = fn(*args, **kwargs).localCheckpoint()
        rec["counts"]["pairs"] = out.count()
        return out

    return traced


def run(args, work: str):
    import pickle

    import pyarrow
    import pyspark

    from tzspark import hostcal

    hostcal.apply()  # the MALLOC_* settings every measured entry point uses
    tr = Tracer()
    cls = {DRIVER: Driver, DBSCAN: Dbscan}.get(args.workload, World)
    wl = cls(args.workload, args.seed, tr, work)
    if args.trace:
        install_patches(tr)
    try:
        common = wl.run(args.seconds, bool(args.trace))
        if args.trace:
            m = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
            m.update(wl.layers())
            m["cells.compile_cover.s"] = tr.median("cells.compile_cover")
            m["covertable.CoverTables.from_index.s"] = tr.median(
                "covertable.CoverTables.from_index")
            if hasattr(wl, "tl"):
                m["cells.index_bytes"] = len(pickle.dumps(wl.tl.idx,
                                                          protocol=pickle.HIGHEST_PROTOCOL))
            m["host.fault_us_per_page.before"] = common["fault_before"]
            m["host.fault_us_per_page.after"] = common["fault_after"]
            m["host.steal_frac"] = common["steal"]
            m["host.quiet_wait_s"] = common["quiet_wait_s"]
            m["trace.overhead_frac"] = wl.trace_overhead()
            units = dict(PER_LAYER)
            extra = []
        else:
            m = {"setup_s": common["setup_s"], "peak_rss_mb": wl.monitor.python_mb()}
            m.update(wl.end_to_end())
            units = {n: u for n, u, _, _ in END_TO_END}
            extra = wl.extra()
    finally:
        wl.close()
        tr.unpatch()
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "spark_cores": CORES,
        "git_commit": git_commit(ROOT), "tzspark_sources": source_digest(ROOT),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "fault_us_per_page_before": common["fault_before"],
        "fault_us_per_page_after": common["fault_after"],
        "cpu_steal_frac": round(common["steal"], 4),
        "quiet_wait_s": round(common["quiet_wait_s"], 2),
        "quiet_cpu_share": round(common["quiet_cpu_share"], 4),
        "ops_untraced": len(wl.op_s[False]), "ops_traced": len(wl.op_s[True]),
        "ops_kept": len(wl.kept_ops()), "op_steal_max": round(max(wl.op_steal), 4),
    }
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}-{os.getpid()}.json")
        tr.dump(path, dict(context, spark_per_op=getattr(wl, "spark_per_op", {})))
        context["trace_file"] = os.path.relpath(path, ROOT)
    lines = [f"context {json.dumps(context)}"]
    lines += [f"metric {n} {v:.6g} {u}" for n, v, u in
              [(n, m[n], units[n]) for n in units] + extra]
    lines.append(f"metric error_rate {wl.failed / max(wl.attempted, 1):.6g} fraction")
    result = {
        "correct": wl.failed == 0, "attempted": wl.attempted, "failed": wl.failed,
        "metrics": {n: {"value": m[n], "unit": u} for n, u in units.items()},
    }
    return result, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # every file the run writes (inputs, Spark scratch, temp files) stays in the checkout
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    try:
        result, lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
