"""Engine-vs-oracle tests for the broadcast spatial join and kNN.

The oracle is the numpy kernel applied directly (brute force, no cover) —
the engine must reproduce its membership sets exactly, the golden-dump
device of the reference's own tests (test/Features_test.cpp:75-123).
"""

import numpy as np
import pytest

from libgeodesk_spark.geom import kernel
from libgeodesk_spark.geom.zones import prepare_zone
from libgeodesk_spark.operators.knn import knn, max_meters_from, radius_units
from libgeodesk_spark.operators.spatial_join import join_zones
from libgeodesk_spark.sources.points import (
    GATE_ZONES,
    derived_points,
)


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    df = derived_points(spark, sf_dir)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def points_pd(points):
    return points.select("image_id", "x", "y").toPandas().sort_values("image_id")


@pytest.fixture(scope="module")
def zones():
    return {name: prepare_zone(name, [np.array(r) for r in rings])
            for name, rings in GATE_ZONES.items()}


@pytest.mark.parametrize("zname", ["convex", "comb", "holed"])
@pytest.mark.parametrize("predicate", ["within", "intersects"])
def test_join_matches_brute_force(points, points_pd, zones, zname, predicate):
    z = zones[zname]
    got = (join_zones(points, [z], predicate=predicate)
           .select("image_id").toPandas()["image_id"].tolist())
    loc = kernel.locate_points(points_pd.x.to_numpy(), points_pd.y.to_numpy(),
                               z.edges)
    min_loc = kernel.INSIDE if predicate == "within" else kernel.BOUNDARY
    want = points_pd.image_id.to_numpy()[loc >= min_loc].tolist()
    assert sorted(got) == sorted(want)
    assert len(want) > 0, "fixture must be non-trivial"


def test_join_multi_zone(points, points_pd, zones):
    zs = list(zones.values())
    got = (join_zones(points, zs, predicate="within")
           .groupBy("zone_id").count().toPandas())
    for _, row in got.iterrows():
        z = zones[row.zone_id]
        loc = kernel.locate_points(points_pd.x.to_numpy(),
                                   points_pd.y.to_numpy(), z.edges)
        assert row["count"] == int((loc == 1).sum())


def test_knn_matches_brute(points, points_pd):
    from libgeodesk_spark.sources.points import X0, Y0
    qx, qy = X0 + 4_000_000, Y0 + 4_000_000
    for k in (1, 5, 50):
        got = knn(points, qx, qy, k).toPandas()
        dx = points_pd.x.to_numpy().astype(np.int64) - qx
        dy = points_pd.y.to_numpy().astype(np.int64) - qy
        sq = dx * dx + dy * dy
        order = sorted(zip(sq, points_pd.image_id))[:k]
        assert list(got.image_id) == [i for _, i in order]
        assert list(got.sq_dist) == [int(s) for s, _ in order]


def test_knn_in_hot_cell(points, points_pd):
    # query inside the hot cell: dense candidates, ring 0 should suffice
    from libgeodesk_spark.sources.points import HOT_X_OFF, HOT_Y_OFF, X0, Y0
    qx, qy = X0 + HOT_X_OFF + 2000, Y0 + HOT_Y_OFF + 2000
    got = knn(points, qx, qy, 10).toPandas()
    dx = points_pd.x.to_numpy().astype(np.int64) - qx
    dy = points_pd.y.to_numpy().astype(np.int64) - qy
    sq = dx * dx + dy * dy
    order = sorted(zip(sq, points_pd.image_id))[:10]
    assert list(got.image_id) == [i for _, i in order]


def test_radius_exact(points, points_pd):
    from libgeodesk_spark.sources.points import X0, Y0
    qx, qy = X0 + 2_000_000, Y0 + 5_000_000
    got = radius_units(points, qx, qy, 500_000**2).select("image_id").toPandas()
    dx = points_pd.x.to_numpy().astype(np.int64) - qx
    dy = points_pd.y.to_numpy().astype(np.int64) - qy
    want = points_pd.image_id.to_numpy()[dx * dx + dy * dy <= 500_000**2]
    assert sorted(got.image_id) == sorted(want)


def test_max_meters_from(points, points_pd):
    from libgeodesk_spark.mercator import units_from_meters
    from libgeodesk_spark.sources.points import X0, Y0
    qx, qy = X0 + 4_000_000, Y0 + 2_000_000
    got = max_meters_from(points, 5000.0, qx, qy).select("image_id").toPandas()
    u = units_from_meters(5000.0, qy)
    dx = points_pd.x.to_numpy().astype(np.float64) - qx
    dy = points_pd.y.to_numpy().astype(np.float64) - qy
    want = points_pd.image_id.to_numpy()[dx * dx + dy * dy <= u * u]
    assert sorted(got.image_id) == sorted(want)


def _pairs(df):
    return sorted((r.image_id, r.zone_id) for r in df.collect())


class TestShuffleFallback:
    """join_zones past EDGE_BROADCAST_LIMIT: boundary rows co-group on
    zone_id with a local edges frame of one row per zone instead of a
    whole-set broadcast; results must be identical to the broadcast
    path."""

    @pytest.fixture(scope="class")
    def many_zones(self):
        """60 detailed polygons (100 vertices each) scattered over the
        sf0.001 window."""
        rng = np.random.default_rng(7)
        zones = []
        for i in range(60):
            cx = 89_500_000 + int(rng.integers(0, 7_000_000))
            cy = 640_500_000 + int(rng.integers(0, 7_000_000))
            n_v = 100
            ang = np.sort(rng.uniform(0, 2 * np.pi, n_v))
            rad = rng.integers(100_000, 500_000, n_v)
            xs = (cx + rad * np.cos(ang)).astype(np.int64)
            ys = (cy + rad * np.sin(ang)).astype(np.int64)
            ring = np.stack([xs, ys], axis=1)
            ring = np.vstack([ring, ring[:1]])
            zones.append(prepare_zone(f"z{i:03d}", [ring]))
        return zones

    def test_fallback_matches_broadcast(self, points, zones, monkeypatch):
        from libgeodesk_spark.operators import spatial_join

        zones = list(zones.values())
        base = join_zones(points, zones, predicate="within",
                          columns=["image_id"])
        monkeypatch.setattr(spatial_join, "EDGE_BROADCAST_LIMIT", 10)
        fb = join_zones(points, zones, predicate="within",
                        columns=["image_id"])
        a, b = _pairs(base), _pairs(fb)
        assert a == b and len(a) > 0

    def test_fallback_many_zone_set(self, points, many_zones, monkeypatch):
        """A zone SET with more total edges than the broadcast limit:
        fallback vs broadcast identical for both predicates."""
        from libgeodesk_spark.operators import spatial_join

        preds = ("within", "intersects")
        want = {p: _pairs(join_zones(points, many_zones, predicate=p,
                                     columns=["image_id"])) for p in preds}
        monkeypatch.setattr(spatial_join, "EDGE_BROADCAST_LIMIT", 500)
        for p in preds:
            got = _pairs(join_zones(points, many_zones, predicate=p,
                                    columns=["image_id"]))
            assert got == want[p] and len(got) > 0

    def test_fallback_ships_one_edge_row_per_zone(self, points, many_zones,
                                                  monkeypatch):
        from libgeodesk_spark.operators import spatial_join

        frames = []
        real = spatial_join._cogroup_refiner

        def spy(edges, locate):
            frames.append(edges)
            return real(edges, locate)

        monkeypatch.setattr(spatial_join, "EDGE_BROADCAST_LIMIT", 500)
        monkeypatch.setattr(spatial_join, "_cogroup_refiner", spy)
        join_zones(points, many_zones, columns=["image_id"])
        assert frames
        shipped = sorted(r.zone_id for f in frames for r in f.collect())
        assert shipped == sorted(z.zone_id for z in many_zones)

    def test_fallback_boundary_ties(self, spark, many_zones, monkeypatch):
        """contains_point on probes placed ON zone vertices and near edge
        midpoints — the boundary ties — matches the broadcast path and
        the brute-force kernel."""
        import pandas as pd

        from libgeodesk_spark.operators import spatial_join

        xy = []
        for z in many_zones:
            e = z.edges                             # (x1, y1, x2, y2) rows
            xy.append(e[:, :2])
            xy.append((e[:, :2] + e[:, 2:]) // 2)
        xy = np.unique(np.vstack(xy), axis=0)
        probes = spark.createDataFrame(pd.DataFrame({
            "image_id": [f"p{i}" for i in range(len(xy))],
            "x": xy[:, 0], "y": xy[:, 1]}))
        base = join_zones(probes, many_zones, predicate="contains_point",
                          columns=["image_id"])
        a = _pairs(base)
        monkeypatch.setattr(spatial_join, "EDGE_BROADCAST_LIMIT", 500)
        fb = join_zones(probes, many_zones, predicate="contains_point",
                        columns=["image_id"])
        assert _pairs(fb) == a
        want = sorted(
            (f"p{i}", z.zone_id) for z in many_zones
            for i in np.nonzero(kernel.locate_points(
                xy[:, 0], xy[:, 1], z.edges) >= kernel.BOUNDARY)[0])
        assert a == want and len(a) >= len(xy) // 2


class TestWithinDistancePairs:
    def test_matches_brute_force(self, spark):
        """Grid band join vs O(N²) numpy on clustered + negative coords."""
        import numpy as np
        from libgeodesk_spark.operators.distance import within_distance_pairs
        rng = np.random.default_rng(11)
        # three clusters straddling grid boundaries, plus negatives
        centers = [(0, 0), (1000, -1000), (-5000, 7000)]
        xs, ys = [], []
        for cx, cy in centers:
            xs += (cx + rng.integers(-80, 81, 60)).tolist()
            ys += (cy + rng.integers(-80, 81, 60)).tolist()
        rows = [(i, int(x), int(y)) for i, (x, y) in enumerate(zip(xs, ys))]
        df = spark.createDataFrame(rows, "pid long, x long, y long")
        r = 50
        got = {(p.id_a, p.id_b, p.d2) for p in
               within_distance_pairs(df, r).collect()}
        arr = np.array([(x, y) for _, x, y in rows], dtype=np.int64)
        want = set()
        for i in range(len(arr)):
            d2 = ((arr[i + 1:] - arr[i]) ** 2).sum(axis=1)
            for j in np.nonzero(d2 <= r * r)[0]:
                want.add((i, i + 1 + int(j), int(d2[j])))
        assert got == want
        assert len(want) > 50   # the clusters actually produce pairs

    def test_pair_appears_once(self, spark):
        from libgeodesk_spark.operators.distance import within_distance_pairs
        df = spark.createDataFrame([(1, 10, 10), (2, 12, 10)],
                                   "pid long, x long, y long")
        out = within_distance_pairs(df, 16).collect()
        assert len(out) == 1 and out[0].d2 == 4


class TestKnnJoin:
    def test_full_join_matches_brute(self, spark, points, points_pd):
        """Exact kNN join over ALL sf0.001 points (incl. the hot cell)
        vs numpy brute force — same ranks, same distances, same ties."""
        import numpy as np
        from libgeodesk_spark.operators.knn import knn_join
        k = 3
        got = knn_join(points.select("pid", "x", "y"), k).toPandas()
        pdf = points.select("pid", "x", "y").toPandas()
        xy = pdf[["x", "y"]].to_numpy(np.int64)
        pids = pdf["pid"].to_numpy(np.int64)
        assert len(got) == len(pids) * k
        got_map = {}
        for r in got.itertuples(index=False):
            got_map.setdefault(r.id_a, []).append((r.rank, r.id_b, r.d2))
        rng = np.random.default_rng(0)
        probe = rng.choice(len(pids), size=60, replace=False)
        for i in probe:
            d2 = ((xy - xy[i]) ** 2).sum(axis=1)
            order = sorted((int(d2[j]), int(pids[j]))
                           for j in range(len(pids)) if pids[j] != pids[i])
            want = [(r + 1, pid_b, dd) for r, (dd, pid_b)
                    in enumerate(order[:k])]
            assert sorted(got_map[int(pids[i])]) == want, pids[i]

    def test_query_subset_and_small_corpus(self, spark):
        from libgeodesk_spark.operators.knn import knn_join
        df = spark.createDataFrame(
            [(1, 0, 0), (2, 10, 0), (3, 0, 10), (4, 1000, 1000)],
            "pid long, x long, y long")
        q = df.filter("pid = 4")
        got = sorted((r.rank, r.id_b, r.d2) for r in
                     knn_join(df, 2, queries=q).collect())
        assert got == [(1, 2, 980100 + 1000000), (2, 3, 1000000 + 980100)]
        # k larger than corpus: every point still gets n-1 neighbors
        full = knn_join(df, 10).toPandas()
        assert len(full) == 4 * 3

    def test_external_queries_k_at_corpus_size(self, spark):
        """An EXTERNAL query frame (ids disjoint from the corpus, the
        knn_batch delegation shape) has no self-match: at k >= corpus
        size every query must get ALL n candidates, not n-1 — the
        row-identical contract across the knn_batch join threshold."""
        from libgeodesk_spark.operators.knn import knn_join
        pts = spark.createDataFrame(
            [(1, 0, 0), (2, 10, 0), (3, 0, 10)], "pid long, x long, y long")
        q = spark.createDataFrame([(100, 1, 1)], "pid long, x long, y long")
        got = sorted((r.rank, r.id_b, r.d2) for r in
                     knn_join(pts, 5, queries=q).collect())
        assert got == [(1, 1, 2), (2, 2, 82), (3, 3, 82)]
        # a query frame that IS a corpus subset keeps self-exclusion
        sub = sorted((r.rank, r.id_b) for r in
                     knn_join(pts, 5, queries=pts.filter("pid = 1"))
                     .collect())
        assert sub == [(1, 2), (2, 3)]

    def test_knn_batch_matches_per_query_knn(self, spark, points):
        """knn_batch (JVM-generated candidate cell boxes) must equal the
        per-query ring-expansion knn for every query, including one far
        from all data (forces several radius-doubling rounds and the
        grid-clamped box)."""
        from libgeodesk_spark.operators.knn import knn, knn_batch
        qs = [("qa", 90_500_000, 642_500_000),
              ("qb", 94_001_000, 643_001_000),
              ("qfar", 110_000_000, 630_000_000)]  # ~15 cells out: several
        #                                            doubling rounds
        batch = knn_batch(points, qs, 7).toPandas()
        for qid, qx, qy in qs:
            got = batch[batch.qid == qid].sort_values("rank")
            want = knn(points, qx, qy, 7).toPandas()
            assert got["image_id"].tolist() == want["image_id"].tolist(), qid
            assert got["sq_dist"].tolist() == want["sq_dist"].tolist(), qid

    def test_knn_batch_join_path_matches_ring_path(self, spark, points):
        """Above the delegation threshold knn_batch routes through the
        knn_join ladder — same rows as the ring protocol for the same
        queries (string ids: identical tie-break)."""
        from libgeodesk_spark.operators.knn import knn_batch
        rows = points.select("pid", "x", "y").collect()
        qs = [(f"q{r['pid']}", r["x"] + 3, r["y"] - 7) for r in rows[::9]]
        assert len(qs) > 60
        ring = knn_batch(points, qs, 5, join_threshold=10**9).toPandas()
        ladder = knn_batch(points, qs, 5, join_threshold=0).toPandas()
        key = ["qid", "rank"]
        r = ring.sort_values(key).reset_index(drop=True)
        l = ladder.sort_values(key).reset_index(drop=True)
        assert r[["qid", "image_id", "sq_dist", "rank"]].equals(
            l[["qid", "image_id", "sq_dist", "rank"]])
        assert r[["x", "y"]].equals(l[["x", "y"]])

    def test_int32_coordinates(self, spark):
        """knn_join over IntegerType x/y must equal the LongType result:
        the round ladder shifts by up to 32 bits and the JVM masks shift
        amounts mod 32 for ints (x >> 32 == x) — the operator casts
        defensively at entry, so arbitrary caller schemas are safe."""
        rows = [(i, (i * 7919) % 3000, (i * 104729) % 3000)
                for i in range(40)]
        as_long = spark.createDataFrame(rows, "pid long, x long, y long")
        as_int = spark.createDataFrame(rows, "pid long, x int, y int")
        from libgeodesk_spark.operators.knn import knn_join
        want = sorted(map(tuple, knn_join(as_long, 2).collect()))
        got = sorted(map(tuple, knn_join(as_int, 2).collect()))
        assert got == want
