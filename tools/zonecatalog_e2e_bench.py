"""Zone-catalog join, Spark END-TO-END, at the 10^5-zone scale the r4
driver-assembly path could not reach (VERDICT r4 #1).

Pipeline measured: WKB catalog → distributed prep → parquet artifact
store → `join_zones_catalog` (interval build side broadcast as a
DataFrame, boundary band cogrouped with executor-held edge blobs,
region-partitioned once the interval total passes the broadcast
budget). Driver work is counted in METADATA ROWS (per-zoom aggregates +
per-region-cell stats) — never edges, covers, or intervals.

Usage: python tools/zonecatalog_e2e_bench.py [n_zones]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def make_catalog(spark, n_zones: int):
    """¼ of the zones in the data window (catalog skew), the rest over
    the world; generated in Spark partitions so the driver never holds
    10^5 rings either."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("zone_id", T.StringType(), False),
                           T.StructField("wkb", T.BinaryType(), False)])

    def gen(batches):
        from libgeodesk_spark.geom.wkb import rings_to_wkb
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng(7_000_000 + i)
                if i % 4 == 0:
                    cx = int(rng.integers(88_000_000, 96_000_000))
                    cy = int(rng.integers(640_000_000, 648_000_000))
                else:
                    cx = int(rng.integers(-1_500_000_000, 1_500_000_000))
                    cy = int(rng.integers(-1_000_000_000, 1_000_000_000))
                r = int(rng.integers(50_000, 500_000))
                k = int(rng.integers(5, 17))
                ang = np.sort(rng.uniform(0, 2 * np.pi, k))
                rad = r * rng.uniform(0.6, 1.0, k)
                ring = np.stack(
                    [cx + (rad * np.cos(ang)).astype(np.int64),
                     cy + (rad * np.sin(ang)).astype(np.int64)], axis=1)
                ring = np.vstack([ring, ring[:1]])
                rows.append((f"z{i:06d}", rings_to_wkb([ring], merc=True)))
            yield pd.DataFrame(rows, columns=["zone_id", "wkb"])

    return (spark.range(n_zones).repartition(128)
            .mapInPandas(gen, schema=schema))


def main():
    from pyspark.sql import functions as F

    from bench import build_spark, materialized_points
    from libgeodesk_spark.operators.spatial_join import join_zones_catalog
    from libgeodesk_spark.operators.zoneprep import prepared_zones_df

    n_zones = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = build_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")

    pts = materialized_points(spark, "/root/testdata/sf0.1", 4)
    n_pts = pts.count()

    wkb = make_catalog(spark, n_zones)
    art_dir = tempfile.mkdtemp(prefix="spark_graft_zonecat_")
    art = os.path.join(art_dir, "prepped")
    try:
        t0 = time.time()
        prepared_zones_df(wkb, n_slices=128).write.parquet(art)
        prep_sec = round(time.time() - t0, 2)
        prepped = spark.read.parquet(art)
        stats = prepped.agg(
            F.count("*").alias("n"), F.sum("n_edges").alias("edges"),
            (F.sum(F.length("iv_rows")) / 8).alias("iv")).first()
        print(f"prep→parquet: {prep_sec}s — {stats['n']} zones, "
              f"{stats['edges']} edges, {int(stats['iv'])} intervals",
              flush=True)

        t0 = time.time()
        out = join_zones_catalog(pts, prepped, predicate="within",
                                 columns=["image_id"])
        memberships = out.count()
        join_sec = round(time.time() - t0, 2)
        print(f"e2e join: {join_sec}s — {memberships:,} memberships "
              f"({round(n_pts / join_sec):,} img/s)", flush=True)

        # driver-metadata evidence: re-run the two collects the operator
        # performs and count their rows (the ONLY driver-side data)
        zmeta_rows = prepped.groupBy("zoom").count().count()
        from libgeodesk_spark.operators.spatial_join import REGION_ZOOM
        shift = 32 - REGION_ZOOM
        cx = (F.col("min_x") + F.col("max_x")) / 2
        cy = (F.col("min_y") + F.col("max_y")) / 2
        rc = (F.shiftleft(F.shiftright(
            cx.cast("long") + F.lit(1 << 31), shift), 20)
            + F.shiftright(F.lit(0x7FFFFFFF) - cy.cast("long"), shift))
        cell_rows = prepped.withColumn("_rc", rc) \
            .groupBy("_rc", "zoom").count().count()
        print(f"driver metadata: {zmeta_rows} zoom rows + {cell_rows} "
              f"region-cell rows (vs {int(stats['iv'])} intervals / "
              f"{stats['edges']} edges that stay in Spark)", flush=True)

        raw = {"n_zones": int(stats["n"]), "n_points": n_pts,
               "total_edges": int(stats["edges"]),
               "n_intervals": int(stats["iv"]),
               "prep_to_parquet_sec": prep_sec,
               "e2e_join_sec": join_sec, "memberships": memberships,
               "img_per_sec": round(n_pts / join_sec),
               "driver_metadata_rows": zmeta_rows + cell_rows}

        from libgeodesk_spark.operators.spatial_join import _auto_iv_budget
        budget = _auto_iv_budget(spark)
        regime = ("region-partitioned"
                  if int(stats["iv"]) > budget else "single-broadcast")
        raw["auto_iv_budget"] = budget
        raw["regime"] = regime
        md = f"""

## {int(stats['n']):,}-zone catalog JOIN — Spark END-TO-END (r6)

`join_zones_catalog`: {n_pts:,} points × {int(stats['n']):,} zones
({int(stats['iv']):,} intervals, {int(stats['edges']):,} edges). Prep →
parquet artifacts {prep_sec} s (128 executor slices); the join itself
**{join_sec} s** ({round(n_pts / join_sec):,} img/s,
{memberships:,} memberships). Driver-side data:
**{zmeta_rows + cell_rows} metadata rows** (per-zoom aggregates +
per-region-cell stats) — intervals broadcast as a DataFrame
(JVM BroadcastExchange), edge blobs cogrouped to the boundary band on
executors. Regime: {regime} (auto interval budget {budget:,} from
executor memory — VERDICT r5 #4).
"""
        md += f"\nRaw: `{json.dumps(raw)}`\n"
        with open(os.path.join(REPO, "BENCH", "ZONEPREP.md"), "a") as f:
            f.write(md)
        print(md)
    finally:
        shutil.rmtree(art_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
