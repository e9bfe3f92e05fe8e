"""Inputs and an exact driver-side answer for the geo-DBSCAN workload.

``planted_points`` is bench.py's planted-cluster stream (60% of points in
compact 60-point blobs on a 100x100 grid of centres, 40% sparse background)
written in numpy over an offset id range, so the seed moves the inputs.
``reference_dbscan`` computes covertable.geo_dbscan's documented result with
numpy alone: the same float32-truncated coordinates, the same eps test, the
same core/border/noise convention and cluster ids.
"""

from __future__ import annotations

import numpy as np


def planted_points(ids: np.ndarray):
    """(event_id, lat, lng) of bench.py's ``_clustered_pts`` for row ids
    ``ids``: the first 60% of them form blobs, the rest is background."""
    ids = np.asarray(ids, dtype=np.int64)
    k = len(ids) * 6 // 10
    blob, bg = ids[:k], ids[k:]
    cid = blob // 60
    lat_b = (cid % 100) * 1.2 - 60.0 + 0.1 + ((blob * 7919) % 100 - 50) / 1000.0
    lng_b = ((cid // 100) % 100) * 3.2 - 160.0 + 0.1 + ((blob * 104729) % 100 - 50) / 1000.0
    lat_g = (bg * 7919) % 120000 / 1000.0 - 60.0
    lng_g = (bg * 104729) % 320000 / 1000.0 - 160.0
    return ids, np.concatenate([lat_b, lat_g]), np.concatenate([lng_b, lng_g])


def eps_pairs(lat: np.ndarray, lng: np.ndarray, eps: float):
    """Every unordered pair (i, j), i < j by position, within ``eps`` on the
    float32-truncated coordinates, found by hashing points to eps cells."""
    la = lat.astype(np.float32).astype(np.float64)
    lg = lng.astype(np.float32).astype(np.float64)
    cx = np.floor(la / eps).astype(np.int64)
    cy = np.floor(lg / eps).astype(np.int64)
    key = (cx << 32) + cy
    order = np.argsort(key, kind="stable")
    skey = key[order]
    ii, jj = [], []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            want = ((cx + dx) << 32) + (cy + dy)
            lo = np.searchsorted(skey, want, "left")
            hi = np.searchsorted(skey, want, "right")
            n = hi - lo
            a = np.repeat(np.arange(len(la)), n)
            start = np.repeat(lo - np.cumsum(n) + n, n)
            b = order[start + np.arange(n.sum())]
            keep = a < b
            a, b = a[keep], b[keep]
            d2 = (la[a] - la[b]) ** 2 + (lg[a] - lg[b]) ** 2
            near = d2 <= eps * eps
            ii.append(a[near])
            jj.append(b[near])
    return np.concatenate(ii), np.concatenate(jj)


def reference_dbscan(key: np.ndarray, lat: np.ndarray, lng: np.ndarray,
                     eps: float, min_pts: int) -> dict:
    """Per point: role (0 core, 1 border, 2 noise) and cluster_id, as
    covertable.geo_dbscan defines them (core = at least ``min_pts``
    neighbours within eps, self excluded; cluster_id = the least key of the
    core component; a border takes the least cluster_id among its core
    neighbours; noise is -1), plus the pair and core-edge counts."""
    n = len(key)
    a, b = eps_pairs(lat, lng, eps)
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    core = deg >= min_pts
    cc = core[a] & core[b]
    ea, eb = a[cc], b[cc]
    label = key.copy()
    while True:  # min-label propagation with pointer jumping, to a fixpoint
        new = label.copy()
        np.minimum.at(new, ea, label[eb])
        np.minimum.at(new, eb, label[ea])
        pos = np.searchsorted(key, new)  # key is sorted: jump to the label's own label
        new = np.minimum(new, label[pos])
        if np.array_equal(new, label):
            break
        label = new
    cluster = np.where(core, label, np.iinfo(np.int64).max)
    # borders: non-core points with a core neighbour take the least cluster
    big = np.iinfo(np.int64).max
    bcl = np.full(n, big, dtype=np.int64)
    ab = ~core[a] & core[b]
    np.minimum.at(bcl, a[ab], cluster[b[ab]])
    ba = ~core[b] & core[a]
    np.minimum.at(bcl, b[ba], cluster[a[ba]])
    border = ~core & (bcl < big)
    role = np.where(core, 0, np.where(border, 1, 2))
    cid = np.where(core, cluster, np.where(border, bcl, -1))
    return {"role": role, "cluster_id": cid, "pairs": len(a),
            "core_edges": 2 * int(cc.sum())}
