"""The rows-only gate queries are SELF-ASSERTING (VERDICT r3 #1): a
fidelity or invariant collapse must RAISE so the driver's CORRECTNESS run
records `err` instead of an unfalsifiable green. These tests prove the
trap springs: each one breaks the underlying operator and expects the
gate wrapper to fail. The healthy gates pass whenever
test_plan_invariants builds them.

Reference analog: golden-dump diffing (test/Features_test.cpp:75-123) —
every output, including lossy ones, is checkable."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.01"


class TestTileGates:
    def test_broken_psnr_trips_the_gate(self, spark, monkeypatch):
        """A tile under the 40 dB PSNR north-star must raise."""
        from libgeodesk_spark.operators import tileagg

        real = tileagg.tile_reencode_metrics

        def lossy(images, **kw):
            return real(images, **kw).withColumn(
                "min_psnr", F.lit(10.0))
        monkeypatch.setattr(tileagg, "tile_reencode_metrics", lossy)
        with pytest.raises(AssertionError, match="PSNR"):
            entry._q_tile_metrics(spark, SF)

    def test_caption_corruption_trips_the_gate(self, spark, monkeypatch):
        """A caption digest that stops matching the independent
        JVM-side digest of the INPUT captions must raise."""
        from libgeodesk_spark.operators import tileagg

        real = tileagg.tile_reencode_metrics

        def corrupt(images, **kw):
            return real(images, **kw).withColumn(
                "caption_sha", F.sha2(F.lit("corrupted"), 256))
        monkeypatch.setattr(tileagg, "tile_reencode_metrics", corrupt)
        with pytest.raises(AssertionError, match="caption"):
            entry._q_tile_metrics(spark, SF)

    def test_mosaic_drop_trips_the_gate(self, spark, monkeypatch):
        """A mosaic that loses images (conservation violated) raises."""
        from libgeodesk_spark.operators import tileagg

        real = tileagg.mosaic_tiles

        def dropping(images, **kw):
            return real(images.limit(100), **kw)
        monkeypatch.setattr(tileagg, "mosaic_tiles", dropping)
        with pytest.raises(AssertionError, match="mosaic"):
            entry._q_tile_mosaic(spark, SF)


class TestHullInvariants:
    def test_hull_point_loss_trips_the_gate(self, spark, monkeypatch):
        from libgeodesk_spark.operators import geomops

        real = geomops.cell_hulls

        def lossy(points, **kw):
            return real(points, **kw).withColumn(
                "n_points", F.col("n_points") - 1)
        monkeypatch.setattr(geomops, "cell_hulls", lossy)
        with pytest.raises(AssertionError, match="hull"):
            entry._q_cell_hulls(spark, SF)

