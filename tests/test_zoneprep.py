"""Distributed zone preparation (operators/zoneprep.py): the executor-side
mapInPandas prep must be BIT-IDENTICAL to the driver-side
geom.zones.prepare_zone on the same WKB, artifacts must survive a
parquet round-trip, and the downstream joins must be unchanged."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from libgeodesk_spark.geom.wkb import (
    multipolygon_to_wkb,
    prepare_zone_from_wkb,
    rings_to_wkb,
)
from libgeodesk_spark.operators.zoneprep import (
    collect_prepared,
    prepare_zones,
    prepared_zones_df,
)
from libgeodesk_spark.sources.points import GATE_ZONES


def _gate_zone_wkb_rows():
    rows = []
    for name, rings in GATE_ZONES.items():
        arrs = [np.array(r, dtype=np.int64) for r in rings]
        rows.append((name, bytearray(rings_to_wkb(arrs, merc=True))))
    return rows


@pytest.fixture(scope="module")
def zone_wkb_df(spark):
    return spark.createDataFrame(_gate_zone_wkb_rows(),
                                 "zone_id string, wkb binary")


class TestZonePrepDistributed:
    def test_bit_identical_to_driver_prep(self, spark, zone_wkb_df):
        """Same WKB through the executor path and the driver path:
        edges array, bbox, fitted zoom, and the full INSIDE/BOUNDARY
        cover must match exactly — the classification kernels are
        shared, so any drift is a serialization bug."""
        got = {z.zone_id: z for z in prepare_zones(zone_wkb_df)}
        assert set(got) == set(GATE_ZONES)
        for name, data in _gate_zone_wkb_rows():
            want = prepare_zone_from_wkb(name, bytes(data))
            g = got[name]
            assert g.zoom == want.zoom
            assert g.bbox == want.bbox
            np.testing.assert_array_equal(g.edges, want.edges)
            assert g.cover == want.cover

    def test_artifacts_survive_parquet_roundtrip(self, spark, zone_wkb_df,
                                                 tmp_path):
        """A prepared catalog persists (the point of artifact rows: prep
        once, reuse across queries without re-running geometry)."""
        path = str(tmp_path / "prepped")
        prepared_zones_df(zone_wkb_df).write.parquet(path)
        back = {z.zone_id: z
                for z in collect_prepared(spark.read.parquet(path))}
        for name, data in _gate_zone_wkb_rows():
            want = prepare_zone_from_wkb(name, bytes(data))
            np.testing.assert_array_equal(back[name].edges, want.edges)
            assert back[name].cover == want.cover
            assert back[name].bbox == want.bbox

    def test_join_zones_unchanged(self, spark, zone_wkb_df):
        """join_zones over executor-prepped zones == over driver-prepped
        zones (the VERDICT 'gate rows unchanged' criterion)."""
        from libgeodesk_spark.operators.spatial_join import join_zones
        from libgeodesk_spark.sources.points import derived_points
        pts = derived_points(spark, "/root/testdata/sf0.001") \
            .select("image_id", "x", "y", "cell_id")
        dist = prepare_zones(zone_wkb_df)
        driv = [prepare_zone_from_wkb(n, bytes(d))
                for n, d in _gate_zone_wkb_rows()]
        a = sorted(map(tuple, join_zones(pts, dist, predicate="within")
                       .select("image_id", "zone_id").collect()))
        b = sorted(map(tuple, join_zones(pts, driv, predicate="within")
                       .select("image_id", "zone_id").collect()))
        assert a == b and len(a) > 0

    def test_catalog_scale_counts_and_spotcheck(self, spark):
        """A 200-zone synthetic catalog preps fully distributed
        (n_slices spreads zones), artifact stats are consistent, and a
        random sample is equivalent to driver prep."""
        rng = np.random.default_rng(11)
        rows = []
        for i in range(200):
            cx = int(rng.integers(-1_000_000_000, 1_000_000_000))
            cy = int(rng.integers(-900_000_000, 900_000_000))
            r = int(rng.integers(50_000, 3_000_000))
            k = int(rng.integers(3, 9))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            ring = np.stack([cx + (r * np.cos(ang)).astype(np.int64),
                             cy + (r * np.sin(ang)).astype(np.int64)],
                            axis=1)
            ring = np.vstack([ring, ring[:1]])
            rows.append((f"z{i:04d}",
                         bytearray(rings_to_wkb([ring], merc=True))))
        df = spark.createDataFrame(rows, "zone_id string, wkb binary")
        prepped = prepared_zones_df(df, n_slices=8).persist()
        stats = prepped.agg(
            F.count("*").alias("n"),
            F.sum((F.col("n_inside") + F.col("n_boundary") > 0)
                  .cast("int")).alias("nonempty"),
            F.min("n_edges").alias("min_edges")).first()
        assert stats["n"] == 200 and stats["min_edges"] >= 3
        assert stats["nonempty"] == 200
        sample = {r[0]: r[1] for r in rows}
        got = {z.zone_id: z for z in collect_prepared(
            prepped.filter(F.col("zone_id").isin(
                ["z0000", "z0077", "z0199"])))}
        for zid, z in got.items():
            want = prepare_zone_from_wkb(zid, bytes(sample[zid]))
            np.testing.assert_array_equal(z.edges, want.edges)
            assert z.cover == want.cover
        prepped.unpersist()

    def test_light_intervals_path_matches_full(self, spark):
        """The executor-built interval table (``intervals_table``, the
        catalog join's build side) equals the driver-built one from the
        collected zones' full covers (``zone_intervals_df``, the
        driver-zone join's build side) — row for row, through a
        MIXED-ZOOM catalog."""
        from libgeodesk_spark.operators.spatial_join import zone_intervals_df
        from libgeodesk_spark.operators.zoneprep import intervals_table
        # gate zones + one HUGE zone just under the MAX_ZONE_SPAN (2^30)
        # contract — wide enough to force a much coarser fitted cover
        # zoom than the gate zones
        big = np.array([[-200_000_000, 500_000_000],
                        [800_000_000, 500_000_000],
                        [800_000_000, 900_000_000],
                        [-200_000_000, 900_000_000],
                        [-200_000_000, 500_000_000]], dtype=np.int64)
        rows = _gate_zone_wkb_rows() + [
            ("big", bytearray(rings_to_wkb([big], merc=True)))]
        df = spark.createDataFrame(rows, "zone_id string, wkb binary")
        prepped = prepared_zones_df(df).persist()
        full = collect_prepared(prepped)
        assert len({z.zoom for z in full}) > 1      # mixed zooms for real
        key = ["zone_id", "cover", "cell_row", "c0", "c1"]
        got = sorted(map(tuple, intervals_table(prepped).select(*key)
                         .collect()))
        want = sorted(map(tuple, zone_intervals_df(spark, full)
                          .select(*key).collect()))
        assert got == want and len(got) > 0
        prepped.unpersist()

    def test_wkt_catalog_equals_wkb(self, spark, zone_wkb_df):
        """geom_format='wkt': a WKT zone catalog preps bit-identically
        to the WKB one for the same lon/lat."""
        from libgeodesk_spark.geom.wkb import _merc_rings_to_lonlat
        from libgeodesk_spark.sources.points import GATE_ZONES
        rows = []
        for name, rings in GATE_ZONES.items():
            lonlat = _merc_rings_to_lonlat(
                [np.array(r, dtype=np.int64) for r in rings])
            ring_txt = lambda r: "(" + ", ".join(  # noqa: E731
                f"{lo!r} {la!r}" for lo, la in r) + ")"
            rows.append((name, "POLYGON (" + ", ".join(
                ring_txt(r) for r in lonlat) + ")"))
        wkt_df = spark.createDataFrame(rows, "zone_id string, wkb string")
        got = {z.zone_id: z for z in prepare_zones(zone_wkb_df)}
        via_wkt = {z.zone_id: z for z in collect_prepared(
            prepared_zones_df(wkt_df, geom_format="wkt"))}
        for name in GATE_ZONES:
            np.testing.assert_array_equal(via_wkt[name].edges,
                                          got[name].edges)
            assert via_wkt[name].cover == got[name].cover

    def test_multipolygon_wkb(self, spark):
        """MultiPolygon zones (two disjoint squares) prep correctly —
        both parts contribute cover."""
        s = 1 << 22
        sq1 = np.array([[0, 0], [s, 0], [s, s], [0, s], [0, 0]],
                       dtype=np.int64)
        sq2 = sq1 + 4 * s
        data = multipolygon_to_wkb([[sq1], [sq2]], merc=True)
        df = spark.createDataFrame([("mp", bytearray(data))],
                                   "zone_id string, wkb binary")
        [z] = prepare_zones(df)
        want = prepare_zone_from_wkb("mp", data)
        np.testing.assert_array_equal(z.edges, want.edges)
        assert z.cover == want.cover and len(z.cover) > 0


class TestCatalogJoinEndToEnd:
    """join_zones_catalog: no per-zone object on the driver (VERDICT r4
    #1) — build side broadcast as a DataFrame, boundary band cogrouped
    with executor-held edge blobs, region-partitioned past the ceiling.
    Every regime must be row-identical to the driver-assembled path."""

    @pytest.fixture(scope="class")
    def mixed_catalog(self, spark):
        big = np.array([[-200_000_000, 500_000_000],
                        [800_000_000, 500_000_000],
                        [800_000_000, 900_000_000],
                        [-200_000_000, 900_000_000],
                        [-200_000_000, 500_000_000]], dtype=np.int64)
        rows = _gate_zone_wkb_rows() + [
            ("big", bytearray(rings_to_wkb([big], merc=True)))]
        df = spark.createDataFrame(rows, "zone_id string, wkb binary")
        prepped = prepared_zones_df(df).persist()
        prepped.count()
        yield prepped
        prepped.unpersist()

    @pytest.fixture(scope="class")
    def pts(self, spark):
        from libgeodesk_spark.sources.points import derived_points
        return derived_points(spark, "/root/testdata/sf0.001") \
            .select("image_id", "x", "y", "cell_id")

    def _want(self, pts, prepped):
        from libgeodesk_spark.operators.spatial_join import join_zones
        full = collect_prepared(prepped)
        return sorted(map(tuple,
                          join_zones(pts, full, predicate="within",
                                     columns=["image_id"])
                          .select("image_id", "zone_id").collect()))

    def test_single_broadcast_regime(self, spark, pts, mixed_catalog):
        from libgeodesk_spark.operators.spatial_join import (
            join_zones_catalog)
        got = sorted(map(tuple,
                         join_zones_catalog(pts, mixed_catalog,
                                            columns=["image_id"])
                         .select("image_id", "zone_id").collect()))
        assert got == self._want(pts, mixed_catalog) and len(got) > 0

    def test_region_partitioned_regime(self, spark, pts, mixed_catalog,
                                       monkeypatch):
        """A tiny interval budget forces region bin-packing AND the
        hash-split of an over-budget cell; output must not change."""
        from libgeodesk_spark.operators import spatial_join
        monkeypatch.setattr(spatial_join, "_auto_iv_budget",
                            lambda spark: 300)
        got = sorted(map(tuple,
                         spatial_join.join_zones_catalog(
                             pts, mixed_catalog, columns=["image_id"])
                         .select("image_id", "zone_id").collect()))
        assert got == self._want(pts, mixed_catalog) and len(got) > 0
