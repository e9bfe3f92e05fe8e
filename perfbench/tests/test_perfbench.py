"""Tests of the benchmark itself: python3 -m pytest perfbench/tests -q

They need no Spark session: the seed and gate tests drive the driver-side
parts of the workloads at reduced sizes.
"""

import json
import os
import sys
import time

import numpy as np
import pytest

PB = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PB)
sys.path[:0] = [PB, ROOT]

import dbscan  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from tracing import Tracer, self_times  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    b = _bench()
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER]
    assert {w["name"] for w in b["workloads"]} <= set(metrics.WORKLOADS)
    assert b["command"] == ["python3", "perfbench/run.py"] and b["paths"] == ["perfbench"]


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "group": "op0", "counts": {}}


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 3.0, 0),
        _span("b", 2.0, 5.0, 0),  # overlaps a: the union 1..5 counts once
        _span("c", 8.0, 12.0, 0),  # runs past its parent: only 8..10 counts
        _span("a.inner", 1.5, 2.5, 1),  # a grandchild does not reduce the op
    ]
    assert self_times(spans) == pytest.approx([10.0 - 4.0 - 2.0, 1.0, 3.0, 4.0, 1.0])


def test_tracer_spans_nest_and_add_up():
    tr = Tracer()
    tr.active, tr.group = True, "op0"
    with tr.span("outer"):
        time.sleep(0.01)
        with tr.span("inner"):
            time.sleep(0.02)
    outer, inner = tr.spans
    assert inner["parent"] == 0 and outer["parent"] is None
    st = self_times(tr.spans)
    assert st[0] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))
    assert tr.median("inner") == pytest.approx(inner["end"] - inner["start"])


def test_recursive_call_is_one_span():
    tr = Tracer()

    def depth(n):
        return 0 if n == 0 else 1 + traced(n - 1)

    traced = tr.wrap("depth", depth, lambda a, out: {"levels": out})
    tr.active, tr.group = True, "op0"
    assert traced(3) == 3
    assert [s["name"] for s in tr.spans] == ["depth"]
    assert tr.median("depth", "levels") == 3


def test_patch_traces_and_restores():
    import tzspark.api as api

    orig = api.__dict__["compile_cover"]
    tr = Tracer()
    run.install_patches(tr)
    try:
        assert api.compile_cover is not orig
    finally:
        tr.unpatch()
    assert api.compile_cover is orig


def test_kept_ops_leave_out_stolen_ops_only_while_enough_remain():
    wl = run.Workload("w", 1, Tracer(), "")
    wl.op_groups[False] = [f"op{k}" for k in range(5)]
    wl.op_s[False] = [1.0, 2.0, 1.1, 1.2, 1.3]
    wl.op_steal = [0.0, 0.10, 0.01, 0.02, 0.0]
    assert wl.kept_ops() == [("op0", 1.0), ("op2", 1.1), ("op3", 1.2), ("op4", 1.3)]
    wl.op_steal = [0.0, 0.10, 0.05, 0.05, 0.0]  # two clean ops are too few: keep all
    assert [g for g, _ in wl.kept_ops()] == wl.op_groups[False]


def _driver(seed, tmp_path, monkeypatch):
    monkeypatch.setattr(run, "BULK", 2000)
    monkeypatch.setattr(run, "PROBES", 32)
    wl = run.Driver(metrics.DRIVER, seed, Tracer(), str(tmp_path))
    wl.inputs()
    wl.setup(0)
    wl.expect()
    return wl


def _world(seed, tmp_path, monkeypatch):
    """World inputs and expected answers, without the Spark session."""
    from tzspark.api import TimezoneLookup

    monkeypatch.setitem(run.N_IMAGES, metrics.BROADCAST, 2000)
    wl = run.World(metrics.BROADCAST, seed, Tracer(), str(tmp_path / f"w{seed}"))
    os.makedirs(wl.work)
    wl.inputs()
    wl.tl = TimezoneLookup(wl.zones)
    wl.expect()
    return wl


def test_seed_changes_inputs_not_gate_verdict(tmp_path, monkeypatch):
    d1, d2 = (_driver(s, tmp_path, monkeypatch) for s in (1, 7))
    assert not np.array_equal(d1.plat, d2.plat)
    for wl in (d1, d2):
        for k in range(3):  # three ops: both zone versions are checked
            wl.op(f"op{k}")
        assert wl.failed == 0 and wl.attempted > 3 * run.PROBES
    w1, w2 = (_world(s, tmp_path, monkeypatch) for s in (1, 7))
    assert not np.array_equal(w1.lat, w2.lat)
    assert w1.failed == 0 and w2.failed == 0 and w1.attempted == 1
    assert w1.rollup != w2.rollup


def test_gate_catches_a_wrong_answer(tmp_path, monkeypatch):
    wl = _driver(1, tmp_path, monkeypatch)
    wl.probe_names[0][0] = "Not/AZone"
    wl.op("op0")
    assert wl.failed == 1


def _brute_dbscan(key, lat, lng, eps, min_pts):
    """geo_dbscan's convention over all n^2 pairs, with a union-find."""
    la = lat.astype(np.float32).astype(np.float64)
    lg = lng.astype(np.float32).astype(np.float64)
    near = (la[:, None] - la[None]) ** 2 + (lg[:, None] - lg[None]) ** 2 <= eps * eps
    np.fill_diagonal(near, False)
    core = near.sum(1) >= min_pts
    parent = list(range(len(key)))

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    for i, j in zip(*np.nonzero(near & core[:, None] & core[None])):
        parent[find(i)] = find(j)
    comp_min = {}
    for i in np.flatnonzero(core):
        r = find(i)
        comp_min[r] = min(comp_min.get(r, key[i]), key[i])
    cid = np.full(len(key), -1, dtype=np.int64)
    role = np.full(len(key), 2)
    for i in range(len(key)):
        if core[i]:
            role[i], cid[i] = 0, comp_min[find(i)]
        elif (near[i] & core).any():
            role[i] = 1
            cid[i] = min(comp_min[find(j)] for j in np.flatnonzero(near[i] & core))
    return role, cid, int(np.triu(near).sum())


@pytest.mark.parametrize("seed", [1, 7])
def test_reference_dbscan_equals_brute_force(seed):
    key, lat, lng = dbscan.planted_points(seed * run.ROW_STRIDE + np.arange(900))
    ref = dbscan.reference_dbscan(key, lat, lng, run.EPS, run.MIN_PTS)
    role, cid, pairs = _brute_dbscan(key, lat, lng, run.EPS, run.MIN_PTS)
    assert (role == 0).sum() > 100 and (role == 2).sum() > 100  # blobs and background
    assert np.array_equal(ref["role"], role) and np.array_equal(ref["cluster_id"], cid)
    assert ref["pairs"] == pairs


def test_dbscan_gate_accepts_the_answer_and_catches_a_wrong_one(tmp_path, monkeypatch):
    import pandas as pd

    monkeypatch.setattr(run, "N_POINTS", 3000)
    names = np.array(["core", "border", "noise"])
    for seed in (1, 7):  # other inputs, same verdict
        wl = run.Dbscan(metrics.DBSCAN, seed, Tracer(), str(tmp_path / f"d{seed}"))
        os.makedirs(wl.work)
        wl.inputs()
        wl.expect()
        pdf = pd.DataFrame({"event_id": wl.key, "role": names[wl.ref["role"]],
                            "cluster_id": wl.ref["cluster_id"]})
        assert wl.matches(pdf.sample(frac=1.0, random_state=0))
        wrong = pdf.copy()
        wrong.loc[int(np.flatnonzero(wl.ref["role"] == 0)[0]), "cluster_id"] += 1
        assert not wl.matches(wrong)
        assert not wl.matches(pdf.iloc[1:])
