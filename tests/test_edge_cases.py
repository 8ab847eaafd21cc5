"""Degenerate-input contracts across the operator surface: empty
frames, single rows, all-tied distances, absent keys. Every operator
must return a well-formed EMPTY (or minimal) result — not throw, not
hang, not emit malformed schemas. These are the shapes incremental
pipelines hit constantly (an empty micro-batch, a filter that matched
nothing) and the fixed-size gate corpora never produce."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from libgeodesk_spark.geom.zones import prepare_zone

Z = 1 << 20


@pytest.fixture(scope="module")
def zone():
    s = 4 * Z
    ring = np.array([[0, 0], [s, 0], [s, s], [0, s], [0, 0]], dtype=np.int64)
    return prepare_zone("sq", [ring])


@pytest.fixture(scope="module")
def empty_pts(spark):
    return spark.createDataFrame(
        [], "image_id string, pid long, x long, y long, cell_id long")


class TestEmptyInputs:
    def test_knn_join_empty_points(self, spark, empty_pts):
        from libgeodesk_spark.operators.knn import knn_join
        out = knn_join(empty_pts.select("pid", "x", "y"), 3)
        assert out.count() == 0
        assert set(out.columns) == {"id_a", "id_b", "d2", "rank"}

    def test_knn_join_empty_queries(self, spark, empty_pts):
        from libgeodesk_spark.operators.knn import knn_join
        pts = spark.createDataFrame([(1, 0, 0), (2, 5, 5)],
                                    "pid long, x long, y long")
        out = knn_join(pts, 2, queries=empty_pts.select("pid", "x", "y"))
        assert out.count() == 0

    def test_join_zones_empty_points(self, spark, empty_pts, zone):
        from libgeodesk_spark.operators.spatial_join import join_zones
        out = join_zones(empty_pts, [zone], predicate="within",
                         columns=["image_id"])
        assert out.count() == 0
        assert set(out.columns) == {"image_id", "zone_id"}

    def test_dedup_empty_corpus(self, spark):
        from libgeodesk_spark.operators.dedup import (
            exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs)
        docs = spark.createDataFrame([], "doc_id long, text string")
        assert minhash_lsh_pairs(docs, 50).count() == 0
        assert minhash_lsh_pairs(docs, 50, collapse_exact=True).count() == 0
        assert ngram_jaccard_pairs(docs, 50).count() == 0
        assert exact_dedup(docs).count() == 0

    def test_phash_single_image(self, spark):
        from libgeodesk_spark.operators.dedup import phash_near_dups
        df = spark.createDataFrame([("a", 12345)],
                                   "image_id string, phash long")
        assert phash_near_dups(df).count() == 0

    def test_members_recursive_absent_roots(self, spark):
        from libgeodesk_spark.operators.topology import members_recursive
        memb = spark.createDataFrame([(1, 10, "way")],
                                     "rel_id long, member_id long, mtype string")
        assert members_recursive(memb, [999]).count() == 0

    def test_way_within_no_candidates(self, spark, zone):
        from libgeodesk_spark.operators.way_join import way_within
        ways = spark.createDataFrame(
            [], "way_id string, ring array<struct<x:long,y:long>>, "
                "is_area boolean")
        assert way_within(ways, zone).count() == 0


class TestDegenerateShapes:
    def test_knn_join_all_identical_points(self, spark):
        """Every pairwise distance is 0 — ties broken by id, exactly
        k rows per query, deterministic."""
        from libgeodesk_spark.operators.knn import knn_join
        pts = spark.createDataFrame([(i, 7, 7) for i in range(5)],
                                    "pid long, x long, y long")
        got = sorted(map(tuple, knn_join(pts, 2).collect()))
        want = []
        for a in range(5):
            others = [b for b in range(5) if b != a][:2]
            want += [(a, b, 0, r + 1) for r, b in enumerate(others)]
        assert got == sorted(want)

    def test_cell_hulls_single_point_cells(self, spark):
        from libgeodesk_spark.operators.geomops import cell_hulls
        pts = spark.createDataFrame(
            [(1, 10, 10, 100), (2, 20, 20, 200)],
            "pid long, x long, y long, cell_id long")
        got = {r.cell_id: (r.n_points, r.n_hull, r.area2)
               for r in cell_hulls(pts).collect()}
        assert got == {100: (1, 1, 0), 200: (1, 1, 0)}

    def test_goql_on_empty_frame(self, spark):
        from libgeodesk_spark.functions.goql import goql_filter
        df = spark.createDataFrame([], "id long, amenity string")
        assert goql_filter(df, "*[amenity=pub]").count() == 0

    def test_zoneprep_empty_catalog(self, spark):
        from libgeodesk_spark.operators.spatial_join import join_zones_catalog
        from libgeodesk_spark.operators.zoneprep import (
            intervals_table, prepare_zones, prepared_zones_df)
        wkb = spark.createDataFrame([], "zone_id string, wkb binary")
        assert prepare_zones(wkb) == []
        prepped = prepared_zones_df(wkb)
        assert intervals_table(prepped).count() == 0
        pts = spark.createDataFrame([(1, 10, 10)], "pid long, x long, y long")
        with pytest.raises(ValueError, match="empty prepared catalog"):
            join_zones_catalog(pts, prepped)

    def test_asof_empty_right(self, spark):
        from libgeodesk_spark.operators.asof import asof_join
        left = spark.createDataFrame([(1, 10)], "k long, ts long")
        right = spark.createDataFrame([], "k long, ts long, v long")
        out = asof_join(left, right, ["k"], "ts", ["v"])
        # every left row survives with NULL right-side values
        assert out.count() == 1
        assert out.first()["r_v"] is None
