"""SparkSession builder with the engine's recommended configuration.

Settings and the reasons they matter at 100 TB scale:

* AQE on (+ coalesce): runtime re-planning absorbs estimation errors and
  coalesces small shuffle partitions (north rule: "AQE-tuned shuffles").
* ``files.maxPartitionBytes`` lowered to 16 MB (+ 4 MB openCost): the
  engine's hot-cell data layouts cluster dense cells into contiguous
  files; smaller splits spread a hot cell across tasks WITHOUT a shuffle
  (the cheap half of skew handling — join_zones' AQE-sized rebalance of
  the boundary band is the other half).
  Local-scale calibration: a sandbox-sized table must still yield >2
  tasks/core at local[32] or a single straggler split caps scaling (at
  100 TB any split size gives millions of tasks; raise this there).
* Arrow batches of 64k rows: the vectorized kernels (PIP locate, codec)
  amortize per-batch Python overhead; 10k default leaves ~40% of the
  boundary-path time in overhead.
* shuffle partitions sized to cores (local mode), not the 200 default.
* ``spark.local.dir`` on tmpfs when available: the sandbox's root disk is
  virtio ext4 mounted with ``discard`` — shuffle-file create/delete churn
  issues synchronous TRIMs that show up as 50%+ kernel time and 5x
  run-to-run variance on shuffle-heavy stages (measured: identical joins
  swinging 5.5-36.7 s with sys%>50). Shuffle scratch is ephemeral by
  definition, so tmpfs is safe; on a real cluster this maps to local NVMe
  or ramdisk scratch, standard practice.
* ``-Xms`` pinned to ``-Xmx``: G1 returns heap pages to the OS between
  queries, so every heavy stage re-faults GBs of anon memory; with 32
  threads faulting concurrently the kernel's zone-lock contention shows
  as 35-58%% system time and 4x trial variance (measured: same join
  3.2 s vs 13.9 s, slow trials = 1-2M page faults in /proc/vmstat).
  A fixed-size heap faults each page once and keeps it. (AlwaysPreTouch
  would move that cost to startup, but zeroing 24 GB through the
  hypervisor took 80 s — not worth it for test sessions.) Default 8 g:
  a bigger Xmx just lets G1 accumulate more garbage between collections,
  i.e. more pages to fault — 8 g measured both faster to warm (3 trials
  vs 5) and slightly faster steady-state than 24 g on the 29M-point join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def build_session(app: str = "libgeodesk_spark", cpus: int | None = None,
                  driver_mem: str | None = None, **extra) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    mem = driver_mem or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None:
        shm = "/dev/shm"
        local_dir = (os.path.join(shm, "spark_local")
                     if os.path.isdir(shm) and os.access(shm, os.W_OK)
                     else None)
    b = (SparkSession.builder.master(f"local[{cpus}]").appName(app)
         .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                 str(16 * 1024 * 1024))
         .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
         .config("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.driver.memory", mem)
         .config("spark.driver.extraJavaOptions", f"-Xms{mem}")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false"))
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in extra.items():
        b = b.config(k, v)
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    return s


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``rows`` (tuples in ``schema`` column order, DDL string) as a
    driver-local frame built through Arrow. Spark plans it as a
    ``LocalTableScan``, so collecting or broadcasting it starts no Python
    task; ``createDataFrame(list)`` instead parallelizes pickled rows that
    a Python worker decodes on every use (~0.2-0.3 CPU-s per task before
    it reads a row)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema)
    cols = list(zip(*rows)) or [()] * len(st.fields)
    return spark.createDataFrame(pa.table(
        [pa.array(c, to_arrow_type(f.dataType))
         for c, f in zip(cols, st.fields)], names=st.names), st)
