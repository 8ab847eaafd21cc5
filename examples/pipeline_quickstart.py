"""Training-data pipeline quickstart: the operator suite composed the
way a curation job would run it at scale.

Run:  python examples/pipeline_quickstart.py
(or spark-submit --py-files libgeodesk_spark.zip examples/pipeline_quickstart.py)

Flow (each stage is a named operator with its own correctness gate):
  1. snapshot-commit the image table (sources/catalog.SnapshotTable)
  2. visual near-dup pairs by perceptual hash (dedup.phash_near_dups)
  3. manifest-pruned time-travel scan back over the snapshot
  4. streaming ingest into the snapshot table, exactly-once
  5. recursive relation walk with per-root geometry
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from libgeodesk_spark.api import Features
from libgeodesk_spark.session import build_session
from libgeodesk_spark.sources.points import derived_points

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main():
    spark = build_session("pipeline-quickstart", cpus=8)
    base = tempfile.mkdtemp(prefix="pipeline_qs_")

    # 1. snapshot-commit the (synthetic) image table
    pts = derived_points(spark, SF_DIR)
    world = Features(pts)
    v = world.to_snapshot(f"{base}/images")
    print(f"committed snapshot v{v}: {world.count()} images")

    # 2. visual near-dups (none expected on LCG-random hashes — the
    #    interesting output is the plan: banded self-join, no cartesian)
    dups = world.near_dups_by_phash(max_hamming=3)
    print(f"phash near-dup pairs: {dups.count()}")

    # 3. time-travel + manifest pruning over the snapshot
    from libgeodesk_spark.sources.catalog import SnapshotTable
    tbl = SnapshotTable(f"{base}/images")
    lo = pts.agg(F.min("cell_id")).first()[0]
    sub, plan = tbl.planned_scan(spark, {"cell_id": (lo, lo + 4096)},
                                 snapshot_id=v)
    print(f"pruned scan: {sub.count()} rows, plan={plan}")

    # 4. streaming ingest INTO the snapshot table, exactly-once across
    #    restarts (epoch tags in the manifest — Iceberg streaming-sink
    #    semantics): late-arriving images land as new atomic snapshots
    from libgeodesk_spark.streaming.ingest import stream_to_snapshot
    late = pts.filter(F.col("pid") % 97 == 0) \
        .select("image_id", "pid", "cell_id")
    late.write.parquet(f"{base}/late/b1")
    q = stream_to_snapshot(
        spark.readStream.schema("image_id string, pid long, cell_id long")
        .parquet(f"{base}/late/*"),
        SnapshotTable(f"{base}/late_tbl"), f"{base}/late_ck")
    q.awaitTermination(120)
    print(f"streamed snapshot: "
          f"{SnapshotTable(f'{base}/late_tbl').read(spark).count()} rows")

    # 5. recursive relation walk (superrelation-style membership),
    #    cycle-guarded, with per-root geometry through the closure
    from libgeodesk_spark.operators.topology import (
        members_recursive, relation_length_recursive)
    memb = spark.createDataFrame(
        [(1, 10, "way"), (1, 2, "relation"), (2, 20, "way"),
         (2, 1, "relation")],                    # 2-cycle: guarded
        "rel_id long, member_id long, mtype string")
    print("closure:", sorted(map(tuple, members_recursive(memb, [1])
                                 .collect())))
    ways = spark.createDataFrame(
        [(w, [{"x": 0, "y": 0}, {"x": w * 1000, "y": 0}])
         for w in (10, 20)],
        "way_id long, ring array<struct<x:long,y:long>>")
    print("recursive length:",
          relation_length_recursive(memb, ways, [1]).collect())
    spark.stop()


if __name__ == "__main__":
    main()
