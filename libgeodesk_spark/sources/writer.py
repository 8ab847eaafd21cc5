"""Cell-partitioned, space-filling-curve-clustered storage layout — the
engine's analog of the GOL file.

Reference layout: one mmap file, tile pyramid partitions, per-tile R-tree
with bbox-sorted branches (SURVEY §1.4). Spark-first translation (the
table-format mapping of SURVEY §1.4's table):

| reference              | here                                          |
|------------------------|-----------------------------------------------|
| tile (zoom/col/row)    | ``part_cell`` partition column (coarse zoom)  |
| tile index + child mask| directory-level partition pruning             |
| per-tile R-tree        | parquet row-group min/max stats on x, y       |
| Hilbert-packed leaves  | Z-order (Morton) sort within partitions       |

``part_cell`` is the zoom-``part_zoom`` ancestor of the row's zoom-12
cell — coarse enough to bound partition count (4^z), fine enough to prune
window queries. Within each partition rows are sorted by an interleaved
Morton key (pure Column bit arithmetic — the same write-time clustering
Iceberg's Z-ordering performs), so parquet row groups carry tight x/y
min/max ranges and window scans skip row groups.

On a real deployment this module is the Iceberg partition spec
(``PARTITIONED BY (part_cell)`` + write-ordered-by zorder); parquet
directories reproduce the same pruning semantics locally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from libgeodesk_spark import mercator
from libgeodesk_spark.functions.cells import cell_zoomed_out

DEFAULT_PART_ZOOM = 4   # 4^4 = up to 256 directory partitions per dataset
MORTON_BITS = 16        # interleave the top 16 bits of each axis


def morton_key(x, y, bits: int = MORTON_BITS):
    """Z-order key from int32 Mercator coords — pure Column arithmetic.

    Uses the TOP ``bits`` of each (offset-shifted) axis so the key orders
    globally; bit interleave x into even, y into odd positions.
    """
    ux = (x.cast("long") + F.lit(1 << 31))
    uy = (y.cast("long") + F.lit(1 << 31))
    key = F.lit(0).cast("long")
    for b in range(bits):
        src = 32 - bits + b              # bit position in the axis value
        key = key \
            + F.shiftleft(F.shiftright(ux, src).bitwiseAND(F.lit(1)), 2 * b) \
            + F.shiftleft(F.shiftright(uy, src).bitwiseAND(F.lit(1)), 2 * b + 1)
    return key


def morton_key_sql(x: str = "x", y: str = "y", bits: int = MORTON_BITS) -> str:
    terms = []
    for b in range(bits):
        src = 32 - bits + b
        terms.append(f"((({x} + 2147483648) >> {src}) & 1) * {1 << (2 * b)}")
        terms.append(f"((({y} + 2147483648) >> {src}) & 1) * {1 << (2 * b + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def write_gol_layout(df: DataFrame, path: str,
                     part_zoom: int = DEFAULT_PART_ZOOM,
                     zoom: int = mercator.MAX_ZOOM,
                     bloom_cols: tuple[str, ...] = ("image_id",),
                     category_cols: tuple[str, ...] = (),
                     n_files: int | None = None) -> None:
    """Write ``df`` (must carry x, y, cell_id) cell-partitioned and
    Z-order-clustered.

    ``bloom_cols``: parquet bloom filters on point-lookup keys — the
    row-group half of the reference's index pre-test (a bloom filter
    skips whole row groups whose key set can't match). Columns absent
    from the frame are ignored.

    ``category_cols``: the KEY-BUCKET half (Matcher.h:128-133
    acceptIndex: features are split into separate R-trees by key-bucket
    category, and a query skips whole trees whose bucket can't match).
    Low-cardinality selector columns (e.g. ``fmt``) become extra
    partition directories under each cell; a GOQL equality/type
    selector on them then prunes ENTIRE sub-trees at plan time
    (Catalyst partition pruning — `PartitionFilters` in the scan, no
    file listed, no footer read), exactly the acceptIndex contract.
    Keep cardinality low (≤ tens of values): each adds a directory
    fan-out factor per cell.

    ``n_files`` (default 4× parallelism): range-partition on
    (part_cell, zorder) instead of hashing part_cell whole — a dense
    (hot) cell's rows span SEVERAL contiguous-z files instead of one,
    so scans of a hot cell parallelize across tasks without a shuffle
    and no single write task owns a whole hot cell (write-skew). Range
    boundaries come from sampling, so file count tracks data share."""
    spark = df.sparkSession
    if n_files is None:
        n_files = spark.sparkContext.defaultParallelism * 4
    out = df.withColumn(
        "part_cell", cell_zoomed_out(F.col("cell_id"), part_zoom, zoom)) \
        .withColumn("_z", morton_key(F.col("x"), F.col("y")))
    cats = [c for c in category_cols if c in df.columns]
    w = (out.repartitionByRange(n_files, "part_cell", *cats, "_z")
         .sortWithinPartitions("part_cell", *cats, "_z")
         .drop("_z")
         .write.mode("overwrite")
         # small row groups keep hot-cell files splittable: a dense cell's
         # file must not collapse into one unsplittable 128MB row group
         # (scan parallelism = row groups, not bytes)
         .option("parquet.block.size", str(8 * 1024 * 1024)))
    for c in bloom_cols:
        if c in df.columns:
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
    w.partitionBy("part_cell", *cats).parquet(path)


def read_gol_layout(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed_payload(images: DataFrame, table: str, n_buckets: int = 16,
                           key: str = "image_id") -> None:
    """Payload side of the skinny-join discipline (SURVEY §7.4: "bytes must
    never cross a shuffle unnecessarily"): store heavy payload columns
    bucketed by the join key so membership results re-attach bytes with a
    bucket-local join — no shuffle of the payload side, ever."""
    (images.write.mode("overwrite")
     .bucketBy(n_buckets, key).sortBy(key)
     .format("parquet").saveAsTable(table))


def attach_payload_bucketed(skinny: DataFrame, table: str,
                            key: str = "image_id") -> DataFrame:
    """Join membership/result rows (skinny) back to the bucketed payload
    table. The payload side reads bucket-aligned — ``.explain`` shows no
    Exchange under its scan."""
    spark = skinny.sparkSession
    payload = spark.table(table)
    return skinny.join(payload, key)


def scan_window(df: DataFrame, min_x: int, min_y: int, max_x: int, max_y: int,
                part_zoom: int = DEFAULT_PART_ZOOM) -> DataFrame:
    """bbox window scan with explicit partition pruning: the TileIndexWalker
    analog (TileIndexWalker.cpp:191-214) — clamp the partition-cell range to
    the window (directory pruning via partition filter), then the exact
    x/y range predicate (row-group skipping via parquet stats)."""
    cover = [int(c) for c in
             mercator.cells_covering_box(min_x, min_y, max_x, max_y, part_zoom)]
    return df.filter(F.col("part_cell").isin(cover)) \
        .filter((F.col("x") >= min_x) & (F.col("x") <= max_x)
                & (F.col("y") >= min_y) & (F.col("y") <= max_y))
