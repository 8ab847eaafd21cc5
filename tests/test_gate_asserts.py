"""The rows-only gate queries are SELF-ASSERTING (VERDICT r3 #1): a
recall/fidelity collapse must RAISE so the driver's CORRECTNESS run
records `err` instead of an unfalsifiable green. These tests prove the
trap springs — each one breaks the underlying operator and expects the
gate wrapper to fail — and that the healthy paths still pass.

Reference analog: golden-dump diffing (test/Features_test.cpp:75-123) —
every output, including approximate ones, is checkable."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.01"


class TestRecallFloors:
    def test_healthy_recall_passes(self, spark):
        df = entry._q_ann_recall(spark, SF)
        rows = {r["method"]: r["recall_pct"] for r in df.collect()}
        assert rows["lsh"] >= entry.RECALL_FLOORS_D64["lsh"]
        assert rows["ivf"] >= entry.RECALL_FLOORS_D64["ivf"]

    def test_broken_lsh_trips_the_gate(self, spark, monkeypatch):
        """Collapse LSH candidate generation (every bucket empty) — the
        gate must raise, not return a quiet low-recall metric row."""
        from libgeodesk_spark.operators import ann

        real = ann.lsh_bucket_topk

        def broken(emb, qids, k, **kw):
            return real(emb, qids, k, **kw).limit(0)

        monkeypatch.setattr(ann, "lsh_bucket_topk", broken)
        with pytest.raises(AssertionError, match="recall"):
            entry._q_ann_recall(spark, SF)

    def test_floor_helper_rejects_missing_method(self, spark):
        df = spark.createDataFrame(
            [("lsh", 50, 50, 100)],
            "method string, n_hits long, n_exact long, recall_pct long")
        with pytest.raises(AssertionError, match="ivf"):
            entry._assert_recall_floor(df, {"lsh": 92, "ivf": 94})


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


class TestIvfPqGate:
    def test_broken_probes_trip_the_gate(self, spark, monkeypatch):
        from libgeodesk_spark.operators import ann

        real = ann.ivfpq_topk

        def misrouted(emb, qids, k, **kw):
            return real(emb, qids, k, **kw).filter("rank > 5")
        monkeypatch.setattr(ann, "ivfpq_topk", misrouted)
        with pytest.raises(AssertionError, match="recall"):
            entry._q_ann_ivfpq(spark, SF)


class TestTopkRowContract:
    def test_starved_candidates_trip_the_gate(self, spark, monkeypatch):
        from libgeodesk_spark.operators import ann

        real = ann.ivf_topk

        def starved(emb, qids, k, **kw):
            return real(emb, qids, k, **kw).filter("rank <= 3")
        monkeypatch.setattr(ann, "ivf_topk", starved)
        with pytest.raises(AssertionError, match="starved"):
            entry._q_ann_ivf(spark, SF)


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

