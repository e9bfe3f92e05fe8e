"""Incremental index maintenance (R5/R6): delete_zone / add_zone /
replace_zone must be BYTE-IDENTICAL to a fresh compile_cover over the
updated zone list — the strongest possible parity claim, checked field by
field including dtypes. The reference exposes Delete/Replace on its store
(rtree R5/R6); the engine maps them to CSR splicing on the compiled cover,
and rebuilds the kNN candidate table only in the cells whose list the
changed zone MBR can reach (cells._knn_update), copying the rest.
"""

import numpy as np
import pytest

from tzspark.cells import (
    CompiledIndex,
    Zone,
    add_zone,
    compile_cover,
    delete_zone,
    knn_fallback,
    replace_zone,
    resolve_points,
)
from tzspark.zones import make_zones, oracle_assign

ARRAY_FIELDS = (
    "b_cells", "b_off", "b_zone", "b_edge_off", "b_edge_idx",
    "ea_lat", "ea_lng", "eb_lat", "eb_lng", "zone_edge_off",
    "knn_off", "knn_zidx",
)
OPT_FIELDS = ("b_ea_lat", "b_ea_lng", "b_eb_lat", "b_eb_lng")


def assert_index_equal(x: CompiledIndex, y: CompiledIndex):
    assert x.base_res == y.base_res and x.max_res == y.max_res
    assert np.array_equal(x.zone_ids, y.zone_ids)
    assert x.tzids == y.tzids
    assert np.array_equal(x.zone_bbox, y.zone_bbox)
    for r in range(x.base_res, x.max_res + 1):
        for a, b in zip(x.full[r], y.full[r]):
            assert a.dtype == b.dtype and np.array_equal(a, b), f"full[{r}]"
    for f in ARRAY_FIELDS:
        a, b = getattr(x, f), getattr(y, f)
        assert a.dtype == b.dtype and np.array_equal(a, b), f
    for f in OPT_FIELDS:
        a, b = getattr(x, f), getattr(y, f)
        assert (a is None) == (b is None), f
        if a is not None:
            assert np.array_equal(a, b), f
    assert x.stats == y.stats


@pytest.fixture(scope="module")
def zones():
    return make_zones(n_coast=500)


@pytest.fixture(scope="module")
def idx_all(zones):
    return compile_cover(zones)


def test_delete_equals_fresh_compile(zones, idx_all):
    zid = zones[7].zone_id
    rest = [z for z in zones if z.zone_id != zid]
    assert_index_equal(delete_zone(idx_all, zid), compile_cover(rest))


def test_delete_first_and_last(zones, idx_all):
    assert_index_equal(
        delete_zone(idx_all, zones[0].zone_id), compile_cover(zones[1:])
    )
    assert_index_equal(
        delete_zone(idx_all, zones[-1].zone_id), compile_cover(zones[:-1])
    )


def test_add_equals_fresh_compile(zones, idx_all):
    zid = zones[7].zone_id
    rest = [z for z in zones if z.zone_id != zid]
    assert_index_equal(
        add_zone(compile_cover(rest), zones[7]), idx_all
    )


def test_replace_modified_geometry(zones, idx_all):
    z = zones[7]
    z2 = Zone(
        z.zone_id, z.tzid,
        z.ring_lat + np.float32(1.5), z.ring_lng - np.float32(0.5),
    )
    mod = [z2 if zz.zone_id == z.zone_id else zz for zz in zones]
    assert_index_equal(replace_zone(idx_all, z2), compile_cover(mod))


def test_updated_index_resolves_like_oracle(zones, idx_all):
    """Behavioral check on top of the structural one: resolve + kNN through
    a deleted-and-replaced index match the committed golden oracle over the
    updated zone list."""
    z = zones[3]
    grown = Zone(
        z.zone_id, z.tzid,
        z.ring_lat * np.float32(1.1), z.ring_lng * np.float32(1.1),
    )
    idx2 = replace_zone(delete_zone(idx_all, zones[11].zone_id), grown)
    live = [grown if zz.zone_id == z.zone_id else zz
            for zz in zones if zz.zone_id != zones[11].zone_id]
    rng = np.random.default_rng(5)
    lat = rng.uniform(-10, 46, 4000).astype(np.float32)
    lng = rng.uniform(-10, 46, 4000).astype(np.float32)
    got = resolve_points(idx2, lat, lng)
    un = got == -1
    got[un] = knn_fallback(idx2, lat[un], lng[un])
    exp = oracle_assign(live, lat, lng)
    assert (got == exp).all()


def test_add_degenerate_ring_is_noop_for_matching(zones, idx_all):
    """<3-vertex rings never match (polygon.go:101-103) — adding one must
    keep every resolve answer, while still registering the zone row."""
    deg = Zone(99999, "Test/Degenerate",
               np.array([1.0, 2.0], np.float32), np.array([1.0, 2.0], np.float32))
    idx2 = add_zone(idx_all, deg)
    assert idx2.stats["zones"] == idx_all.stats["zones"] + 1
    rng = np.random.default_rng(6)
    lat = rng.uniform(-10, 46, 2000).astype(np.float32)
    lng = rng.uniform(-10, 46, 2000).astype(np.float32)
    assert np.array_equal(resolve_points(idx2, lat, lng),
                          resolve_points(idx_all, lat, lng))
    assert_index_equal(idx2, compile_cover(zones + [deg]))


def test_errors(zones, idx_all):
    with pytest.raises(KeyError):
        delete_zone(idx_all, 123456)
    with pytest.raises(KeyError):
        add_zone(idx_all, zones[0])


def test_input_index_not_mutated(zones, idx_all):
    before = {f: (getattr(idx_all, f).copy() if getattr(idx_all, f) is not None
                  else None) for f in ARRAY_FIELDS}
    delete_zone(idx_all, zones[5].zone_id)
    add_zone(idx_all, Zone(88888, "Test/New",
                           np.array([70, 70, 71, 71], np.float32),
                           np.array([10, 11, 11, 10], np.float32)))
    for f, v in before.items():
        assert np.array_equal(getattr(idx_all, f), v), f


def test_updates_on_mapped_index(zones, idx_all, tmp_path):
    """replace_zone, delete_zone and add_zone run on an index mapped
    read-only from its file (cells.open_index) give the fresh compile, and
    leave the file's views as they were."""
    from tzspark.cells import open_index, save_index

    path = str(tmp_path / "index")
    save_index(idx_all, path)
    mapped = open_index(path)
    assert_index_equal(mapped, idx_all)
    z, gone = zones[7], zones[11]
    grown = _moved(z, 1.5, -0.5, scale=1.3)
    out = add_zone(delete_zone(replace_zone(mapped, grown), gone.zone_id), gone)
    live = [grown if q.zone_id == z.zone_id else q for q in zones]
    assert_index_equal(out, compile_cover(live))
    assert_index_equal(mapped, idx_all)


# ---------------------------------------------------------------------------
# update sequences: every step against a fresh compile of the zone list
# ---------------------------------------------------------------------------


def _moved(z: Zone, dlat: float, dlng: float, scale: float = 1.0) -> Zone:
    """z's ring scaled about its vertex mean, then shifted, kept in domain."""
    c_lat, c_lng = z.ring_lat.mean(), z.ring_lng.mean()
    lat = (z.ring_lat - c_lat) * scale + c_lat + dlat
    lng = (z.ring_lng - c_lng) * scale + c_lng + dlng
    return Zone(z.zone_id, z.tzid,
                np.clip(lat, -90, 90).astype(np.float32),
                np.clip(lng, -180, 180).astype(np.float32))


def _knn_cells_changed(x: CompiledIndex, y: CompiledIndex) -> int:
    """kNN cells whose candidate zone ids differ between two indexes."""
    xl = np.split(x.zone_ids[x.knn_zidx], x.knn_off[1:-1])
    yl = np.split(y.zone_ids[y.knn_zidx], y.knn_off[1:-1])
    return sum(not np.array_equal(a, b) for a, b in zip(xl, yl))


class _Live:
    """A zone list and its incrementally updated index, checked against a
    fresh compile after every step."""

    def __init__(self, zones):
        self.zones = {z.zone_id: z for z in zones}
        self.idx = compile_cover(zones)

    def _check(self):
        fresh = compile_cover(list(self.zones.values()))
        assert_index_equal(self.idx, fresh)

    def delete(self, zid):
        self.idx = delete_zone(self.idx, zid)
        del self.zones[zid]
        self._check()

    def add(self, z):
        self.idx = add_zone(self.idx, z)
        self.zones[z.zone_id] = z
        self._check()

    def replace(self, z):
        before = self.idx
        self.idx = replace_zone(self.idx, z)
        self.zones[z.zone_id] = z
        self._check()
        return _knn_cells_changed(before, self.idx)


@pytest.mark.parametrize("seed", [11, 12])
def test_random_update_sequence(zones, seed):
    """Seeded delete / add / replace mix, including moves of up to ±30° lat
    and ±60° lng and rescaled rings."""
    rng = np.random.default_rng(seed)
    live = _Live(zones)
    gone = []
    for _ in range(10):
        op = rng.choice(["delete", "add", "replace", "replace"])
        if op == "add" and not gone:
            op = "delete"
        if op == "delete":
            zid = int(rng.choice(sorted(live.zones)))
            gone.append(live.zones[zid])
            live.delete(zid)
        elif op == "add":
            live.add(gone.pop(int(rng.integers(len(gone)))))
        else:
            z = live.zones[int(rng.choice(sorted(live.zones)))]
            live.replace(_moved(z, rng.uniform(-30, 30), rng.uniform(-60, 60),
                                rng.uniform(0.5, 2.0)))


def test_zone_moved_across_globe(zones):
    """A zone moved to the far side of the globe changes tens of thousands
    of kNN cells' lists, and back again."""
    live = _Live(zones)
    z = live.zones[zones[14].zone_id]
    assert live.replace(_moved(z, -60.0, 150.0)) > 10_000
    assert live.replace(z) > 10_000


def test_edge_of_set_zone(zones):
    """The northernmost zone is the nearest candidate for every far-north
    cell: shrinking, deleting and re-adding it rewrites those cells."""
    north = max(zones, key=lambda z: z.bbox[2])
    live = _Live(zones)
    assert live.replace(_moved(north, 0.0, 0.0, scale=0.2)) > 1_000
    live.delete(north.zone_id)
    live.add(north)


def test_zone_bbox_swallows_neighbours(zones):
    """A lattice quad grown until its MBR contains its neighbours' MBRs
    enters (and on the way back leaves) their kNN cells."""
    z = next(z for z in zones if z.tzid == "Test/Zone_1_1")
    big = _moved(z, 0.0, 0.0, scale=4.0)
    swallowed = [q for q in zones if q.zone_id != z.zone_id
                 and big.bbox[0] <= q.bbox[0] and big.bbox[1] <= q.bbox[1]
                 and q.bbox[2] <= big.bbox[2] and q.bbox[3] <= big.bbox[3]]
    assert len(swallowed) >= 4
    live = _Live(zones)
    live.replace(big)
    live.replace(z)


def test_delete_down_to_one_then_zero_zones(zones):
    """Deleting every zone of a small set, one at a time, down to an index
    with one zone (every kNN cell lists it) and then none; then adding back
    into the empty index."""
    small = [z for z in zones if z.tzid in (
        "Test/Zone_0_0", "Test/Zone_2_3", "Test/Coast", "Test/Degenerate",
        "Etc/Ocean_S", "Etc/Ocean_N")]
    live = _Live(small)
    order = np.random.default_rng(3).permutation([z.zone_id for z in small])
    for zid in order[:-1]:
        live.delete(int(zid))
    assert live.idx.stats["zones"] == 1
    assert (np.diff(live.idx.knn_off) == 1).all()
    live.delete(int(order[-1]))
    assert live.idx.stats["zones"] == 0 and len(live.idx.knn_zidx) == 0
    live.add(small[1])
    live.add(small[0])


def test_degenerate_ring_updates(zones):
    """<3-vertex rings carry no cover but do carry an MBR for kNN: replace
    a real zone by a degenerate ring, move it, and restore the polygon."""
    z = zones[8]
    live = _Live(zones)
    deg = Zone(z.zone_id, z.tzid, np.array([40.0, 50.0], np.float32),
               np.array([-20.0, -10.0], np.float32))
    live.replace(deg)
    live.replace(_moved(deg, -5.0, 3.0))
    live.replace(z)
    live.delete(zones[29].zone_id)  # the fixture's own degenerate ring
    live.add(zones[29])


def test_empty_knn_cell_raises(zones, monkeypatch):
    """Every kNN cell must keep >=1 candidate (knn_fallback's reduceat
    relies on it): a table with a planted empty cell is rejected on the
    full-build path and on the incremental path alike."""
    import tzspark.cells as cells

    real = cells._knn_cells

    def drop_first_cell(zone_bbox, res, cell_ids):
        off, zidx = real(zone_bbox, res, cell_ids)
        return off - off[1] * (np.arange(len(off)) > 0), zidx[off[1]:]

    idx = compile_cover(zones)
    monkeypatch.setattr(cells, "_knn_cells", drop_first_cell)
    with pytest.raises(RuntimeError, match="empty kNN candidate cell"):
        compile_cover(zones)
    north = max(zones, key=lambda z: z.bbox[2])  # listed in cell 0's column
    with pytest.raises(RuntimeError, match="empty kNN candidate cell"):
        replace_zone(idx, _moved(north, -80.0, -100.0))


def test_facade_assign_memoizes_index_file(spark, zones, monkeypatch):
    """TimezoneLookup.assign builds its lookup plan (shipped index file, zone
    dim, Columns) once per index: three calls over two image DataFrames,
    assign_join and cover_tables share one plan and one file; a replace_zone
    in between releases it, and the next call builds exactly one plan over a
    new file of the updated index and answers from it. Every answer equals
    assign_timezones over a fresh CoverTables.from_index."""
    import tzspark.engine as engine
    from tzspark.api import TimezoneLookup
    from tzspark.covertable import CoverTables
    from tzspark.datasets import images_df, synth_coords
    from tzspark.engine import assign_timezones, zone_dim_df

    builds = []
    real_lookup_udf = engine.lookup_udf
    monkeypatch.setattr(engine, "lookup_udf",
                        lambda c: builds.append(c) or real_lookup_udf(c))

    tl = TimezoneLookup(zones)
    imgs = images_df(spark, 400, partitions=2)
    other = images_df(spark, 250, partitions=3)

    def shipped():
        return tl._assign_memo[2].cover.files[None]

    def facade(df, call=tl.assign):
        """call(spark, df) and the plan builds it made."""
        n = len(builds)
        out = call(spark, df)
        return out, len(builds) - n

    def fresh(df):
        return assign_timezones(df, CoverTables.from_index(spark, tl.idx),
                                zone_dim_df(spark, tl.zones), max_res=tl.max_res)

    def rows(df):
        return df.orderBy("image_id").collect()

    got, files = [], set()
    for df in (imgs, other, imgs):
        got.append((df, *facade(df)))
        files.add(shipped())
    plan = tl._assign_memo[2]
    got.append((other, *facade(other, tl.assign_join)))
    assert tl._assign_memo[2] is plan and tl.cover_tables(spark) is plan.cover
    assert [n for _, _, n in got] == [1, 0, 0, 0] and len(files) == 1
    first = files.pop()
    for df, out, _ in got:
        assert rows(out) == rows(fresh(df))

    z = zones[14]
    moved = _moved(z, -6.0, 9.0)
    tl.replace_zone(moved)
    assert tl._assign_memo is None
    out, n_built = facade(imgs)
    assert n_built == 1
    assert shipped() != first
    assert facade(other, tl.assign_join)[1] == 0
    assert rows(out) == rows(fresh(imgs))
    pdf = out.select("image_id", "zone_id").toPandas()
    lat, lng = synth_coords(pdf["image_id"].str[3:].astype(np.int64).to_numpy())
    live = [moved if q.zone_id == z.zone_id else q for q in zones]
    np.testing.assert_array_equal(pdf["zone_id"].to_numpy(np.int32),
                                  oracle_assign(live, lat, lng))


def test_replace_zone_index_file_lifecycle(spark, zones, monkeypatch):
    """The index files behind TimezoneLookup.assign across replace_zone: the
    facade writes no file when it is built; an edit alone writes and ships
    no file; each edit followed by an assign writes and ships exactly one
    new file (Spark keeps serving every one of them, so N edits leave N
    files); the edit drops the driver's mapping of the superseded file; and
    a DataFrame built before the edits still evaluates to the old answers."""
    import os

    from pyspark import SparkContext

    import tzspark.covertable as covertable
    from tzspark.api import TimezoneLookup
    from tzspark.datasets import images_df, synth_coords

    writes, shipped = [], []
    real_write, real_add = covertable._write, SparkContext.addFile
    monkeypatch.setattr(covertable, "_write",
                        lambda idx: writes.append(1) or real_write(idx))
    monkeypatch.setattr(SparkContext, "addFile",
                        lambda sc, path, *a: shipped.append(path) or real_add(sc, path, *a))

    def answers(df, zs):
        pdf = df.select("image_id", "zone_id").toPandas().sort_values("image_id")
        lat, lng = synth_coords(pdf["image_id"].str[3:].astype(np.int64).to_numpy())
        np.testing.assert_array_equal(pdf["zone_id"].to_numpy(np.int32),
                                      oracle_assign(zs, lat, lng))

    tl = TimezoneLookup(zones)
    assert writes == [] and shipped == []
    imgs = images_df(spark, 300, partitions=2)
    before = tl.assign(spark, imgs)
    cover = tl.cover_tables(spark)
    assert cover.value is covertable._OPENED[os.path.basename(cover.files[None])]

    live, paths = list(zones), [cover.files[None]]
    for k, zid in enumerate((3, 17, 26)):
        z = {q.zone_id: q for q in live}[zid]
        moved = _moved(z, 2.5 + k, -4.0 + k, scale=0.8)
        n_w, n_s = len(writes), len(shipped)
        tl.replace_zone(moved)
        assert (len(writes), len(shipped)) == (n_w, n_s)
        assert os.path.basename(paths[-1]) not in covertable._OPENED
        live = [moved if q.zone_id == zid else q for q in live]
        after = tl.assign(spark, imgs)
        assert (len(writes), len(shipped)) == (n_w + 1, n_s + 1)
        paths.append(tl.cover_tables(spark).files[None])
        assert shipped[-1] == paths[-1]
        answers(after, live)
        tl.cover_tables(spark).value  # the driver maps the new file
    assert len(set(paths)) == 4 and all(os.path.exists(p) for p in paths)
    answers(before, zones)


def test_facade_plan_reuse_in_one_query(spark, zones):
    """The memoized plan's Columns may meet in one query: a union of two
    tl.assign results and a self-join of two results on image_id answer as
    the calls do on their own (each DataFrame call gets fresh expression
    ids, so the shared Columns cannot alias each other)."""
    from pyspark.sql import functions as F

    from tzspark.api import TimezoneLookup
    from tzspark.datasets import images_df

    tl = TimezoneLookup(zones)
    a = images_df(spark, 300, partitions=2)
    b = images_df(spark, 500, partitions=2).where(F.col("image_id") >= "img000000000300")
    cols = ["image_id", "zone_id", "via_knn", "cell_id", "tzid"]

    def rows(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    one_a, one_b = rows(tl.assign(spark, a)), rows(tl.assign(spark, b))
    assert len(one_a) == 300 and len(one_b) == 200
    union = tl.assign(spark, a).unionByName(tl.assign(spark, b))
    assert rows(union) == sorted(one_a + one_b)

    left, right = tl.assign(spark, a), tl.assign(spark, a)
    joined = left.alias("l").join(right.alias("r"), "image_id").select(
        "image_id", *[F.col(f"{s}.{c}").alias(f"{s}_{c}") for s in "lr" for c in cols[1:]]
    ).orderBy("image_id").collect()
    assert len(joined) == 300
    for r, want in zip(joined, one_a):
        assert (r["image_id"], *(r[f"l_{c}"] for c in cols[1:])) == want
        assert (r["image_id"], *(r[f"r_{c}"] for c in cols[1:])) == want
