"""Structured Streaming ingest: cell assignment as a streaming transform.

The reference is batch-only (SURVEY §2.9) — its incremental story is store
snapshots + resumable tile status. The engine keeps that stance for tile
re-writes (plans/lineage.py) and additionally offers a streaming ingest
path, because cell assignment is a stateless ``withColumn`` and composes
with Structured Streaming for free:

* ``stream_cell_assign`` — readStream → project to int Mercator + cell_id
  (pure Column math, fuses into the stream epoch) → append sink with
  checkpointing (exactly-once per epoch on the file sink).
* ``stream_cell_counts`` — event-time windowed per-cell counts with a
  watermark for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from libgeodesk_spark import mercator
from libgeodesk_spark.functions.cells import cell_id


def stream_cell_assign(spark: SparkSession, src_dir: str, schema: str,
                       zoom: int = mercator.MAX_ZOOM) -> DataFrame:
    """File-source stream of point rows (x, y, ... per ``schema``) with
    cell assignment applied; caller attaches the sink."""
    stream = spark.readStream.schema(schema).parquet(src_dir)
    return stream.withColumn("cell_id", cell_id(F.col("x"), F.col("y"), zoom))


def start_append_sink(df: DataFrame, out_dir: str, checkpoint_dir: str):
    return (df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def stream_cell_counts(spark: SparkSession, src_dir: str, schema: str,
                       ts_col: str = "ts", window: str = "1 minute",
                       watermark: str = "2 minutes",
                       zoom: int = mercator.MAX_ZOOM) -> DataFrame:
    """Windowed per-cell event counts with late-data watermarking."""
    stream = spark.readStream.schema(schema).parquet(src_dir)
    tagged = stream.withColumn("cell_id", cell_id(F.col("x"), F.col("y"), zoom))
    return (tagged.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window), F.col("cell_id"))
            .agg(F.count("*").alias("n")))


def stream_first_seen(stream: DataFrame, key_col: str = "phash",
                      id_col: str = "image_id") -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    exactly-once first-seen dedup — emit each key's first row, ever,
    across micro-batches; later occurrences only bump a per-key count
    held in the state store (checkpointed with the query, so a restart
    resumes the dedup set).

    This is the streaming half of the exact-dedup pipeline op
    (operators/dedup.exact_dedup is the batch half): at ingest time it
    collapses re-crawled/re-uploaded images by content key before any
    downstream work sees them. State is one long per key — ~16 B amortized
    per distinct key in the store, partitioned by the shuffle on key_col,
    i.e. horizontally scalable and skew-safe for hash-like keys."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} long, {id_col} string, n_dups long"
    state_schema = "n long"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd
        total = 0
        first_id = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            total += len(pdf)
            cand = pdf[id_col].min()   # deterministic pick within a batch
            if first_id is None or cand < first_id:
                first_id = cand
        seen = state.get[0] if state.exists else 0
        state.update((seen + total,))
        if seen == 0 and total > 0:
            yield pd.DataFrame({key_col: [key[0]], id_col: [first_id],
                                "n_dups": [total - 1]})

    return (stream.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def snapshot_batch_committer(table, query_name: str = "ingest"):
    """foreachBatch callback committing each micro-batch into a
    SnapshotTable EXACTLY ONCE across restarts.

    foreachBatch alone is at-least-once: a crash after the sink commit
    but before the checkpoint records epoch completion replays the same
    (batch_df, epoch_id) on restart. The committer closes that window
    the way Iceberg's streaming sink does (snapshot summary records the
    (queryId, epochId); a replayed epoch whose tag already exists in a
    published snapshot is skipped) — the reference analog is the
    putTile page swap keyed by tile status, which makes a re-run of an
    already-committed tile a no-op
    (FeatureStore_Transaction.cpp:99-112). Concurrent writers: CAS
    conflicts retry on the new base, rechecking the tag each time."""
    from libgeodesk_spark.sources.catalog import CommitConflict

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        tag = f"{query_name}:{epoch_id}"
        while True:
            if tag in table.commit_tags():
                return                      # replayed epoch: already live
            try:
                table.commit(batch_df, tag=tag)
                return
            except CommitConflict:
                continue                    # lost the CAS race — retry

    return commit_batch


def stream_to_snapshot(stream: DataFrame, table, checkpoint_dir: str,
                       query_name: str = "ingest"):
    """readStream → SnapshotTable: lands each micro-batch as one atomic
    snapshot commit (append), exactly-once across restarts via
    :func:`snapshot_batch_committer`. availableNow trigger — the batch
    ingest shape; drop the trigger for continuous ingest."""
    return (stream.writeStream
            .foreachBatch(snapshot_batch_committer(table, query_name))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def stream_within(stream: DataFrame, zones, predicate: str = "within",
                  columns=None, **kw) -> DataFrame:
    """Streaming point-in-polygon: the SAME broadcast interval join +
    Arrow boundary kernel as the batch path (operators/spatial_join.
    join_zones), applied to a streaming DataFrame.

    Why this just works: the join is STATELESS — a broadcast hash join
    against a static build side plus a row-local kernel — so Structured
    Streaming runs it map-side inside each micro-batch with no state
    store, no watermark, and no shuffle of the stream (the reference's
    query-over-live-data analog: the prepared filter is built once and
    every arriving feature tests against it). ``join_zones`` sees a
    streaming input and runs one mapInPandas consumer per micro-batch
    instead of the batch path's two-branch union re-reading the source."""
    from libgeodesk_spark.operators.spatial_join import join_zones
    return join_zones(stream, zones, predicate=predicate,
                      columns=columns, **kw)


def stream_range_join(left: DataFrame, right: DataFrame, key_col: str,
                      ts_col: str = "ts", window: str = "1 hour",
                      watermark: str = "35 days") -> DataFrame:
    """Stream-stream INNER join: left rows matched to right rows of the
    same key with ``right.ts`` in ``[left.ts - window, left.ts]`` — the
    streaming analog of the as-of/range alignment (operators/asof.py is
    the batch path).

    Both sides carry watermarks; Spark keeps each side's rows in state
    until the other side's watermark passes ``ts + window``, so state is
    BOUNDED by (watermark + window) x arrival rate — the property that
    makes the join runnable forever at 100 TB/day. For the deterministic
    gate the watermark exceeds the data span, so no state is evicted
    before its partner arrives and the result equals the batch range
    join; production sets it to the real lateness bound and accepts the
    documented eviction semantics."""
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    return l.join(
        r,
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}")
           - F.expr(f"INTERVAL {window}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}")))


def stream_session_counts(stream: DataFrame, key_col: str = "user_id",
                          ts_col: str = "ts", gap: str = "30 seconds",
                          watermark: str = "30 seconds") -> DataFrame:
    """Event-time SESSION windows per key: a session groups rows whose
    gaps are < ``gap``; the window closes (and, in append mode, emits
    exactly once) when the watermark passes its end = last_ts + gap.
    State per open session is one row — bounded by active keys, the
    property that lets sessionization run forever on the event stream
    (batch analog: the lag+cumsum sessionizer behind user_sessions)."""
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
            .agg(F.count("*").alias("n")))
