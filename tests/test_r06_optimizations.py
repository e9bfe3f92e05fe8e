"""Round-6 optimization internals: each change must be result-identical.

Covers: the radius-join blocking refinement (_blocking_res + candidate-set
invariance), frontier-filtered CC (vs a brute-force reference, plus the
nodes= superset contract), and interior res-level pruning metadata.
"""
import numpy as np
import pytest
from pyspark.sql import functions as F


def test_blocking_res_rule():
    from tzspark.covertable import _blocking_res

    # never coarser than the caller's res
    assert _blocking_res(12, 0.05) == 12
    # refine until cell >= radius: r=0.01 -> res 14 (cell 0.0109 >= r,
    # res 15's 0.0055 < r)
    assert _blocking_res(8, 0.01) == 14
    assert 180.0 / (1 << 14) >= 0.01 > 180.0 / (1 << 15)
    # r=0.05 -> res 11; r=0.1 -> res 10 (the colocation bench shape keeps
    # its caller res by construction)
    assert _blocking_res(8, 0.05) == 11
    assert _blocking_res(10, 0.1) == 10
    # cap + degenerate radius
    assert _blocking_res(8, 1e-9) == 20
    assert _blocking_res(7, 0.0) == 7


def test_proximity_pairs_blocking_invariant(spark):
    """The pair set must not depend on the caller's blocking res: compare
    two coarse res choices (normalized differently by the rule) against
    the O(n^2) reference on a hot-clustered fixture."""
    from tzspark.covertable import proximity_self_join

    rng = np.random.default_rng(7)
    n = 400
    lat = np.where(rng.random(n) < 0.7, 10.0 + rng.random(n) * 0.05,
                   rng.random(n) * 50 - 25).astype(np.float32)
    lng = np.where(rng.random(n) < 0.7, 20.0 + rng.random(n) * 0.05,
                   rng.random(n) * 50 - 25).astype(np.float32)
    rows = [(i, float(lat[i]), float(lng[i])) for i in range(n)]
    pts = spark.createDataFrame(rows, "pid long, lat double, lng double")
    r = 0.03

    la = lat.astype(np.float32).astype(np.float64)
    lg = lng.astype(np.float32).astype(np.float64)
    d2 = (la[:, None] - la[None, :]) ** 2 + (lg[:, None] - lg[None, :]) ** 2
    ii, jj = np.where((d2 <= r * r) & (np.arange(n)[:, None] < np.arange(n)[None, :]))
    want = set(zip(ii.tolist(), jj.tolist()))

    for res in (4, 9):
        got = {
            (row["id_a"], row["id_b"])
            for row in proximity_self_join(pts, "pid", radius=r, res=res).collect()
        }
        assert got == want, f"res={res}: {len(got)} vs {len(want)} pairs"


def _brute_cc(edges):
    """Reference CC via repeated relaxation over a python dict."""
    lab = {}
    for s, d in edges:
        lab.setdefault(s, s)
        lab.setdefault(d, d)
    changed = True
    while changed:
        changed = False
        for s, d in edges:
            m = min(lab[s], lab[d])
            if lab[s] != m or lab[d] != m:
                lab[s] = lab[d] = m
                changed = True
        # pointer-jump flatten
        for k in lab:
            while lab[lab[k]] != lab[k]:
                lab[k] = lab[lab[k]]
    return lab


def test_frontier_cc_matches_bruteforce(spark):
    from tzspark.queries_text import min_label_cc

    rng = np.random.default_rng(11)
    # several blobs + a long chain + isolated pairs
    e = []
    for b in range(6):
        base = b * 40
        ids = rng.choice(np.arange(base, base + 30), size=(40, 2))
        e += [(int(a), int(c)) for a, c in ids if a != c]
    e += [(1000 + i, 1001 + i) for i in range(25)]  # chain
    sym = e + [(d, s) for s, d in e]
    edges = spark.createDataFrame(sym, "src long, dst long")
    labels, rounds = min_label_cc(edges)
    got = {r["doc_id"]: r["canon_id"] for r in labels.collect()}
    want = _brute_cc(e)
    assert got == want
    assert rounds <= 8  # pointer jumping: O(log L) on the length-25 chain


def test_cc_nodes_superset_is_inert(spark):
    from tzspark.queries_text import min_label_cc

    e = [(1, 2), (2, 3), (10, 11)]
    sym = e + [(d, s) for s, d in e]
    edges = spark.createDataFrame(sym, "src long, dst long")
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99, 100)], "doc_id long"
    )
    labels, _ = min_label_cc(edges, nodes=nodes)
    got = {r["doc_id"]: r["canon_id"] for r in labels.collect()}
    # edge components labeled by their minimum; isolated extras label self
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99, 100: 100}


def test_cc_contraction_matches_bruteforce_and_loop(spark):
    """Dense-blob fixture where the round-1 HLL decision provably fires
    (distinct labels << nodes): the contracted path must produce the exact
    min-reachable-id labels — equal to brute force AND to the pure
    pointer-jumping loop (_contract=False)."""
    import numpy as np

    from tzspark.queries_text import min_label_cc

    rng = np.random.default_rng(7)
    e = []
    for b in range(8):  # 8 dense blobs of 25 nodes: labels collapse hard
        base = b * 100
        ids = rng.choice(np.arange(base, base + 25), size=(60, 2))
        e += [(int(a), int(c)) for a, c in ids if a != c]
    sym = e + [(d, s) for s, d in e]
    edges = spark.createDataFrame(sym, "src long, dst long")
    lab_c, rounds_c = min_label_cc(edges)
    lab_p, _ = min_label_cc(edges, _contract=False)
    got_c = {r["doc_id"]: r["canon_id"] for r in lab_c.collect()}
    got_p = {r["doc_id"]: r["canon_id"] for r in lab_p.collect()}
    want = _brute_cc(e)
    assert got_c == want
    assert got_p == want
    # round 1 + the contracted loop stays O(log) — not the linear worst case
    assert rounds_c <= 8


def test_cc_contraction_string_ids(spark):
    """q81 runs CC over zero-padded string image ids — contraction must be
    type-agnostic (min/least over strings)."""
    from tzspark.queries_text import min_label_cc

    e = []
    for b in range(6):  # complete blobs of 6 string ids each
        ids = [f"img{b:02d}_{i:02d}" for i in range(6)]
        e += [(a, c) for a in ids for c in ids if a < c]
    sym = e + [(d, s) for s, d in e]
    edges = spark.createDataFrame(sym, "src string, dst string")
    labels, _ = min_label_cc(edges)
    got = {r["doc_id"]: r["canon_id"] for r in labels.collect()}
    want = _brute_cc(e)
    assert got == want
