"""Storage layout tests: partition pruning is visible in the plan, window
scans are exact, Morton clustering orders within partitions."""

import re

import numpy as np
from pyspark.sql import functions as F

from libgeodesk_spark.sources.points import derived_points
from libgeodesk_spark.sources.writer import (
    morton_key,
    read_gol_layout,
    scan_window,
    write_gol_layout,
)


def test_roundtrip_and_pruned_scan(spark, sf_dir, tmp_path):
    pts = derived_points(spark, sf_dir)
    path = str(tmp_path / "gol")
    write_gol_layout(pts, path)
    back = read_gol_layout(spark, path)
    assert back.count() == pts.count()

    window = (90_000_000, 642_000_000, 94_000_000, 646_000_000)
    got = scan_window(back, *window).select("image_id").toPandas()
    want = pts.filter((F.col("x") >= window[0]) & (F.col("x") <= window[2])
                      & (F.col("y") >= window[1]) & (F.col("y") <= window[3])) \
        .select("image_id").toPandas()
    assert sorted(got.image_id) == sorted(want.image_id)

    # pruning shows in the physical plan: PartitionFilters on part_cell
    plan = scan_window(back, *window)._jdf.queryExecution() \
        .executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*part_cell", plan)
    # and the window reaches the scan as pushed filters (the plan string
    # truncates the list before the y bounds)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(x", plan)
    # a kNN ring round's cell set is pushed into the scan as well
    ring = back.filter(F.col("cell_id").isin([201927240, 201927241])) \
        .select("image_id")._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]*In\(cell_id", ring)


def test_partition_count_bounded(spark, sf_dir, tmp_path):
    pts = derived_points(spark, sf_dir)
    path = str(tmp_path / "gol2")
    write_gol_layout(pts, path, part_zoom=2)
    import os
    parts = [d for d in os.listdir(path) if d.startswith("part_cell=")]
    assert 1 <= len(parts) <= 16   # 4^2 = 16 possible


def test_morton_matches_numpy(spark):
    import pandas as pd
    rng = np.random.default_rng(5)
    xs = rng.integers(-2**31, 2**31 - 1, 2000)
    ys = rng.integers(-2**31, 2**31 - 1, 2000)
    df = spark.createDataFrame(pd.DataFrame({"x": xs, "y": ys}))
    got = df.select(morton_key(F.col("x"), F.col("y")).alias("z")) \
        .toPandas().z.to_numpy()

    # numpy oracle: interleave top-16 bits
    ux = (xs.astype(np.int64) + 2**31)
    uy = (ys.astype(np.int64) + 2**31)
    want = np.zeros(len(xs), dtype=np.int64)
    for b in range(16):
        src = 16 + b
        want |= ((ux >> src) & 1) << (2 * b)
        want |= ((uy >> src) & 1) << (2 * b + 1)
    assert np.array_equal(got, want)

    # locality sanity: nearby points have nearby keys more often than random
    assert len(set(want.tolist())) > 1900


def test_bucketed_payload_reattach(spark, sf_dir, tmp_path):
    """Bytes re-attach via a bucket-local join: the payload side shows no
    Exchange in the physical plan (SURVEY §7.4 skinny-join discipline)."""
    import os
    from pyspark.sql import functions as F

    from libgeodesk_spark.sources.images import images_table
    from libgeodesk_spark.sources.writer import (
        attach_payload_bucketed,
        write_bucketed_payload,
    )
    img = images_table(spark, sf_dir).filter(F.col("salt") == 3) \
        .select("image_id", "bytes", "caption")
    spark.sql("DROP TABLE IF EXISTS payload_t")
    import shutil
    shutil.rmtree("/root/repo/spark-warehouse/payload_t", ignore_errors=True)
    write_bucketed_payload(img, "payload_t", n_buckets=4)

    skinny = images_table(spark, sf_dir).filter(F.col("salt") == 3) \
        .select("image_id", "cell_id").limit(200)
    joined = attach_payload_bucketed(skinny, "payload_t")
    assert joined.count() == 200
    assert set(joined.columns) >= {"image_id", "cell_id", "bytes", "caption"}
    # the payload side must never shuffle on the join key: either the
    # skinny side broadcasts (payload streams straight from its scan) or
    # the bucketed layout satisfies the join distribution — in both cases
    # no "Exchange hashpartitioning(image_id" over the payload columns
    plan = joined._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"Exchange hashpartitioning\(image_id[^\n]*", plan):
        frag = plan[m.start():m.start() + 2000]
        assert "bytes" not in frag.split("FileScan")[0], \
            "payload bytes crossed a shuffle"
    spark.sql("DROP TABLE IF EXISTS payload_t")


def test_bloom_filter_written(spark, tmp_path):
    """P11 analog: the GOL layout carries parquet bloom filters on the
    point-lookup key so key-selective scans skip row groups (acceptIndex,
    Matcher.h:128-133). Neither pyarrow 16 nor this duckdb exposes bloom
    offsets, so verify by byte delta: the bloom-enabled layout of the same
    data must carry extra (filter) bytes in every data file."""
    import glob
    import os

    from libgeodesk_spark.sources.points import derived_points
    from libgeodesk_spark.sources.writer import write_gol_layout

    pts = derived_points(spark, "/root/testdata/sf0.001")

    def total(path):
        return sum(os.path.getsize(f)
                   for f in glob.glob(f"{path}/part_cell=*/*.parquet"))

    with_bloom = str(tmp_path / "golb")
    without = str(tmp_path / "goln")
    write_gol_layout(pts, with_bloom)
    write_gol_layout(pts, without, bloom_cols=())
    assert total(with_bloom) > total(without)


def test_category_partition_pruning(spark, sf_dir, tmp_path):
    """The key-bucket HALF of P11 (Matcher.h:128-133 acceptIndex skips
    whole R-trees whose key bucket can't match): a low-cardinality
    selector column written as an extra partition level is pruned at
    PLAN time by a GOQL equality selector — PartitionFilters carries the
    category, and results are unchanged."""
    from libgeodesk_spark.functions.goql import compile_goql
    from libgeodesk_spark.sources.points import derived_points
    from libgeodesk_spark.sources.writer import (
        read_gol_layout, write_gol_layout)

    pts = derived_points(spark, sf_dir)
    r = F.col("pid") % 10
    fmt = F.when(r < 4, "png").when(r < 8, "jpeg").otherwise("bmp")
    imgs = pts.withColumn("fmt", fmt)
    path = str(tmp_path / "golcat")
    write_gol_layout(imgs, path, category_cols=("fmt",))
    back = read_gol_layout(spark, path)

    q = back.filter(compile_goql("*[fmt=png]"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # fmt appears in the partition filters, pruning whole directories
    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan).group(0)
    assert "fmt" in pf, pf
    got = sorted(r.image_id for r in q.select("image_id").collect())
    want = sorted(r.image_id for r in
                  imgs.filter("fmt = 'png'").select("image_id").collect())
    assert got == want
