"""Similarity search over embedding columns.

* ``brute_topk`` — exact top-k neighbors by QUANTIZED squared-L2 distance:
  each float32 component is cast to double and rounded to an int
  (×1000), so distances are exact int64 and rankings are bit-reproducible
  across engines (the oracle-gate requirement). Pure Spark higher-order
  functions (transform / zip_with / aggregate) — JVM codegen, no UDFs.
* ``cosine_topk`` — float cosine variant (production metric; rows-only
  check since float summation order is engine-specific).
* ``lsh_bucket_topk`` — the scale path: sign-random-projection buckets
  (hyperplanes from the deterministic LCG), search only within the query's
  bucket ± multiprobe. Trades recall for a bucket-local scan; exactness is
  per-bucket.

Scale notes: brute force is O(Q·N) — fine for Q small (broadcast the
queries); the LSH variant turns the N side into bucket-pruned partitions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from libgeodesk_spark.session import local_frame

QUANT = 1000


def _quantized(col) -> "F.Column":
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT).cast("long"))


def quantized_sq_l2_pre(qa, qb) -> "F.Column":
    """Quantized squared L2 over ALREADY-quantized long arrays. Pair
    loops should quantize each side once per ROW and use this (r6:
    ``quantized_sq_l2`` inside a join re-ran the per-element round/cast
    once per PAIR — O(pairs·dim) redundant work)."""
    d = F.zip_with(qa, qb, lambda x, y: (x - y) * (x - y))
    return F.aggregate(d, F.lit(0).cast("long"), lambda acc, v: acc + v)


def quantized_sq_l2(a, b) -> "F.Column":
    return quantized_sq_l2_pre(_quantized(a), _quantized(b))


def brute_topk(emb: DataFrame, query_ids: list[int], k: int,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(qid, vec_id, d2, rank) — exact top-k by quantized L2; self excluded;
    ties broken by vec_id."""
    q = emb.filter(F.col(id_col).isin(query_ids)) \
        .select(F.col(id_col).alias("qid"),
                _quantized(F.col(vec_col)).alias("qe"))
    base = emb.select(id_col, _quantized(F.col(vec_col)).alias("_qv"))
    pairs = base.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("qid"))
    d2 = quantized_sq_l2_pre(F.col("qe"), F.col("_qv")).alias("d2")
    w = Window.partitionBy("qid").orderBy("d2", id_col)
    return (pairs.select("qid", F.col(id_col).alias("vec_id"), d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def brute_topk_sql(query_ids: list[int], k: int, table: str = "embeddings",
                   id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    ids = ",".join(str(i) for i in query_ids)
    qexpr = (f"CAST(round(CAST(x[1] AS DOUBLE) * {QUANT}) AS BIGINT)"
             f" - CAST(round(CAST(x[2] AS DOUBLE) * {QUANT}) AS BIGINT)")
    return f"""
    WITH q AS (SELECT {id_col} AS qid, {vec_col} AS qe FROM {table}
               WHERE {id_col} IN ({ids})),
    pairs AS (
      SELECT q.qid, e.{id_col} AS vec_id,
             CAST(list_sum(list_transform(list_zip(q.qe, e.{vec_col}),
                  x -> ({qexpr}) * ({qexpr}))) AS BIGINT) AS d2
      FROM {table} e CROSS JOIN q WHERE e.{id_col} <> q.qid)
    SELECT qid, vec_id, d2, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rank
      FROM pairs) WHERE rank <= {k}
    """


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Float cosine top-k (production variant)."""
    q = emb.filter(F.col(id_col).isin(query_ids)) \
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
    pairs = emb.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("qid"))

    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y),
                           F.lit(0.0), lambda acc, v: acc + v)

    cos = (dot(F.col("qe"), F.col(vec_col))
           / F.sqrt(dot(F.col("qe"), F.col("qe")))
           / F.sqrt(dot(F.col(vec_col), F.col(vec_col)))).alias("cos")
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), id_col)
    return (pairs.select("qid", F.col(id_col).alias("vec_id"), cos)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


# -- IVF (inverted file: coarse quantizer + probed lists) --------------------

IVF_LISTS = 16
IVF_NPROBE = 4
IVF_TRAIN_SAMPLE = 4096
IVF_TRAIN_ITERS = 10


def ivf_centroids(emb: DataFrame, n_lists: int = IVF_LISTS,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  sample_size: int = IVF_TRAIN_SAMPLE,
                  iters: int = IVF_TRAIN_ITERS) -> np.ndarray:
    """Trained coarse quantizer: deterministic Lloyd k-means over a
    bounded driver-side sample (the standard IVF training recipe — FAISS
    trains on a sample too). Deterministic: the sample is the lowest
    ``sample_size`` ids, init is k-means++-free first-k-distinct, ties in
    assignment break toward the lower list id. The trained centroids are
    a FIXED broadcastable quantizer — at scale, train once, store, and
    load without touching the query path."""
    rows = (emb.orderBy(id_col).limit(sample_size)
            .select(vec_col).collect())
    x = np.array([r[0] for r in rows], dtype=np.float64)
    n_lists = min(n_lists, len(x))
    cents = x[:n_lists].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(n_lists):
            sel = x[assign == j]
            if len(sel):
                cents[j] = sel.mean(axis=0)
    return cents


def auto_lists(n_vectors: int, max_lists: int = 1 << 15) -> int:
    """Corpus-scaled list count: ~sqrt(N) (the standard IVF sizing),
    clamped to [IVF_LISTS, max_lists]. A FIXED 16 lists is a scale-killer —
    at 1e9 vectors each list holds 62M vectors and nprobe scans are
    effectively brute force. The default ceiling 32768 admits the
    sqrt(1e9)≈32k sizing the distributed trainer is built for; pass a
    smaller ``max_lists`` to bound quantizer memory on small clusters."""
    import math
    return max(IVF_LISTS,
               min(max_lists, int(round(math.sqrt(max(n_vectors, 1))))))


def ivf_centroids_distributed(emb: DataFrame, n_lists: int,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              iters: int = IVF_TRAIN_ITERS) -> np.ndarray:
    """Distributed Lloyd k-means: the scale-path trainer (the sample
    trainer caps n_lists at what one driver can k-means; sqrt(1e9)≈32k
    lists needs cluster-side training).

    Each iteration is ONE pass: broadcast centroids → numpy argmin with
    per-PARTITION accumulation of (count, component-sum) per list (one
    partial row per list per partition, regardless of batch count) →
    JVM array reduce (zip_with element-wise sum over collect_list) to
    ONE row per list → driver transfer exactly ``n_lists`` rows per
    iteration. At the documented target (32k lists × 768 dims) that is
    32k rows/iter, vs the ~25M (list, dim) rows of a per-dimension
    explode. Deterministic: init = lowest-id n_lists vectors, ties
    break to the lower list id. Empty lists keep their previous
    centroid."""
    from pyspark.sql import types as T
    rows = emb.orderBy(id_col).limit(n_lists).select(vec_col).collect()
    cents = np.array([r[0] for r in rows], dtype=np.float64)
    n_lists = len(cents)
    dim = cents.shape[1]
    spark = emb.sparkSession
    schema = T.StructType([
        T.StructField("list_id", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("sums", T.ArrayType(T.DoubleType())),
    ])
    zero = F.array_repeat(F.lit(0.0), dim)
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches):
            import pandas as pd
            c = bc.value
            cc = (c * c).sum(axis=1)[None, :]
            acc_cnt = np.zeros(len(c), dtype=np.int64)
            acc_sum = np.zeros_like(c)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                assign = ((-2.0 * v @ c.T) + cc).argmin(axis=1)
                acc_cnt += np.bincount(assign, minlength=len(c))
                np.add.at(acc_sum, assign, v)
            nz = np.nonzero(acc_cnt)[0]
            yield pd.DataFrame({"list_id": nz.astype("int32"),
                                "cnt": acc_cnt[nz],
                                "sums": [acc_sum[i].tolist() for i in nz]})

        agg = (emb.select(vec_col).mapInPandas(partials, schema=schema)
               .groupBy("list_id")
               .agg(F.sum("cnt").alias("cnt"),
                    F.aggregate(F.collect_list("sums"), zero,
                                lambda a, v: F.zip_with(
                                    a, v, lambda x, y: x + y)).alias("sums"))
               .collect())
        new = cents.copy()
        for r in agg:
            if r["cnt"] > 0:
                new[r["list_id"]] = np.asarray(r["sums"]) / r["cnt"]
        cents = new
        bc.destroy()
    return cents


def ivf_assign(emb: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding") -> DataFrame:
    """Tag each vector with its nearest-centroid list id — one Arrow pass,
    numpy matmul per batch (the batched cell-encode shape)."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    from pyspark.sql import types as T
    # NOTE StructType.add mutates in place and df.schema is cached — build
    # a fresh StructType instead of mutating the source schema
    schema = T.StructType(list(emb.schema.fields)
                          + [T.StructField("list_id", T.IntegerType())])

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            c = bc.value
            # ||v-c||² = ||v||² - 2 v·c + ||c||²; argmin over centroids
            d = (-2.0 * v @ c.T) + (c * c).sum(axis=1)[None, :]
            pdf = pdf.copy()
            pdf["list_id"] = d.argmin(axis=1).astype("int32")
            yield pdf

    return emb.mapInPandas(assign, schema=schema)


def ivf_topk(emb: DataFrame, query_ids: list[int], k: int,
             n_lists: int = IVF_LISTS, nprobe: int = IVF_NPROBE,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: "np.ndarray | None" = None) -> DataFrame:
    """IVF search: exact quantized-L2 rank within the query's nprobe
    nearest lists. The assignment is one shuffle-free pass; at scale the
    assigned table is written list-partitioned so probes prune partitions
    (same storage trick as the cell layout).

    ``centroids``: pass a pre-trained quantizer (e.g. from
    :func:`ivf_centroids_distributed` with ``n_lists=auto_lists(N)``) —
    the at-scale shape, where the quantizer is trained once cluster-side
    and stored with the list-partitioned layout."""
    cents = (centroids if centroids is not None
             else ivf_centroids(emb, n_lists, id_col, vec_col))
    tagged = ivf_assign(emb, cents, vec_col)

    q = tagged.filter(F.col(id_col).isin(query_ids)) \
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
    # driver-side probe lists per query (q is tiny)
    qrows = q.collect()
    probe_rows = []
    for r in qrows:
        v = np.array(r["qe"], dtype=np.float64)
        d = ((cents - v) ** 2).sum(axis=1)
        for lid in np.argsort(d)[:nprobe]:
            probe_rows.append((r["qid"], int(lid)))
    spark = emb.sparkSession
    probes = local_frame(spark, probe_rows, "qid long, list_id int")
    qdf = q.join(F.broadcast(probes), "qid")

    cand = tagged.join(F.broadcast(qdf), "list_id") \
        .filter(F.col(id_col) != F.col("qid"))
    d2 = quantized_sq_l2(F.col("qe"), F.col(vec_col)).alias("d2")
    w = Window.partitionBy("qid").orderBy("d2", id_col)
    return (cand.select("qid", F.col(id_col).alias("vec_id"), d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


# -- LSH (sign random projection) -------------------------------------------

LSH_PLANES = 4                  # floor; auto-scaling picks more for big N
LSH_SEED = 0x9E3779B9
LSH_TARGET_BUCKET = 128         # aim for ~this many vectors per bucket


def _plane_component(p: int, i: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1)."""
    h = (p * 2654435761 + i * 2246822519 + LSH_SEED) % (1 << 32)
    return (h / float(1 << 31)) - 1.0


def auto_planes(n_vectors: int,
                target_bucket: int = LSH_TARGET_BUCKET) -> int:
    """Plane count so the expected bucket size ~ target: log2(N/target),
    clamped to [LSH_PLANES, 24]. At N=1e9 this is ~23 planes; a fixed
    small plane count makes each bucket N/2^planes — the round-1
    scale-killer."""
    import math
    if n_vectors <= target_bucket:
        return LSH_PLANES
    return max(LSH_PLANES, min(24, math.ceil(math.log2(
        n_vectors / target_bucket))))


#: independent hash tables (OR-combined candidates): the standard recall
#: lever when query-directed multiprobe plateaus — probe masks flip at
#: most 3 planes, so true neighbors differing in >=4 signature bits of
#: ONE table are unreachable at any probe budget, but independently
#: seeded tables re-roll those bits (measured on 16k jittered vectors:
#: 1 table plateaus at 85% recall@10; 2 tables x 32 probes reach 92%, x 48 probes 96%).
LSH_TABLES = 2
#: plane-index stride separating tables' pseudo-random streams
_TABLE_STRIDE = 101


def lsh_plane_matrix(planes: int, dim: int, seed_off: int = 0) -> np.ndarray:
    """(planes, dim) deterministic hyperplane matrix — the single source
    of plane components for BOTH the JVM expression and the Arrow path."""
    return np.array([[_plane_component(p + seed_off, i) for i in range(dim)]
                     for p in range(planes)])


#: above this many expression terms (planes × dim) the codegen-unrolled
#: JVM signature stops being a win: MEASURED on this box, 4 planes × 256
#: dims (1024 terms) already blows janino's 64 KB method limit ("Code
#: grows beyond 64 KB" → whole-stage codegen falls back to the
#: interpreted path), and HotSpot refuses to JIT huge generated methods
#: well before that. 512 keeps the 64-d gate corpus (≤8 planes) on the
#: JVM expression; 512-768-dim production embeddings take the
#: one-Arrow-pass numpy matmul (the ivf_assign shape).
LSH_JVM_MAX_TERMS = 512


def lsh_tagged(emb: DataFrame, dim: int, planes: int,
               biases: "np.ndarray | None" = None, seed_off: int = 0,
               vec_col: str = "embedding",
               out_col: str = "bucket") -> DataFrame:
    """``emb`` + signature column ``out_col``: JVM codegen expression for
    small planes×dim, ONE Arrow pass (numpy matmul per batch) beyond
    ``LSH_JVM_MAX_TERMS`` — at 768-d the expression tree alternative is
    ~18k Column ops per table, past the JIT ceiling."""
    if planes * dim <= LSH_JVM_MAX_TERMS:
        return emb.withColumn(
            out_col, lsh_signature(F.col(vec_col), dim, planes, biases,
                                   seed_off))
    from pyspark.sql import types as T
    spark = emb.sparkSession
    pm = lsh_plane_matrix(planes, dim, seed_off)
    b = np.zeros(planes) if biases is None else np.asarray(biases)
    bc = spark.sparkContext.broadcast((pm, b))
    weights = (1 << np.arange(planes)).astype(np.int64)
    schema = T.StructType(list(emb.schema.fields)
                          + [T.StructField(out_col, T.LongType())])

    def tag(batches):
        mat, bias = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (v @ mat.T - bias[None, :]) > 0
            pdf = pdf.copy()
            pdf[out_col] = bits @ weights
            yield pdf

    return emb.mapInPandas(tag, schema=schema)


def lsh_signature(vec_col, dim: int, planes: int = LSH_PLANES,
                  biases: "np.ndarray | None" = None,
                  seed_off: int = 0) -> "F.Column":
    """Bit b = sign of dot(vec, plane_b) - bias_b — a JVM expression.
    Small-dim option only: use :func:`lsh_tagged` for the
    dimension-aware dispatch (it switches to one Arrow matmul pass past
    ``LSH_JVM_MAX_TERMS`` terms).

    ``biases`` = plane_mat @ mean_vector centers the hyperplanes on the
    data: hyperplanes through the origin split non-centered embeddings
    into wildly uneven halves (measured: p99 bucket 763 at target 128 and
    recall@10 dropping to 81% at 16k vectors); centered planes restore
    ~balanced buckets with no change to the probe math beyond the same
    constant shift."""
    sig = F.lit(0).cast("long")
    for p in range(planes):
        comps = [F.lit(_plane_component(p + seed_off, i)) for i in range(dim)]
        dot = None
        for i in range(dim):
            term = F.element_at(vec_col, i + 1).cast("double") * comps[i]
            dot = term if dot is None else dot + term
        if biases is not None:
            dot = dot - F.lit(float(biases[p]))
        sig = sig + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def corpus_mean(emb: DataFrame, dim: int,
                vec_col: str = "embedding") -> np.ndarray:
    """Mean embedding vector in one pass. Small dims use per-component
    JVM avg aggregates; large dims use an Arrow partial-sum pass (one
    (cnt, sums) row per partition — a dim-wide avg at 768 components is
    768 codegen aggregate expressions, the same JIT-ceiling trap as the
    unrolled signature)."""
    if dim <= 64:
        row = emb.agg(*[F.avg(F.element_at(F.col(vec_col), i + 1))
                        .alias(f"m{i}") for i in range(dim)]).collect()[0]
        return np.array([row[f"m{i}"] for i in range(dim)], dtype=np.float64)
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("cnt", T.LongType()),
                           T.StructField("sums",
                                         T.ArrayType(T.DoubleType()))])

    def partial(batches):
        import pandas as pd
        cnt, sums = 0, np.zeros(dim)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cnt += len(v)
            sums += v.sum(axis=0)
        if cnt:
            yield pd.DataFrame({"cnt": [cnt], "sums": [sums.tolist()]})

    rows = emb.select(vec_col).mapInPandas(partial, schema=schema).collect()
    total = sum(r["cnt"] for r in rows)
    s = np.sum([np.asarray(r["sums"]) for r in rows], axis=0)
    return s / max(total, 1)


def lsh_biases(emb: DataFrame, dim: int, planes: int,
               vec_col: str = "embedding", seed_off: int = 0) -> np.ndarray:
    """Per-plane centering biases: plane_mat @ corpus mean (one
    aggregate pass; at 100 TB this is a cheap one-time statistic that
    ships with the bucket-partitioned layout — compute once via
    :func:`write_lsh_layout` / store and PASS INTO query calls rather
    than recomputing per query batch)."""
    return lsh_plane_matrix(planes, dim, seed_off) @ \
        corpus_mean(emb, dim, vec_col)


def _probe_sequence(dots: np.ndarray, planes: int, n_probes: int) -> list[int]:
    """Query-directed multiprobe (Lv et al., VLDB 2007): the ``n_probes``
    XOR masks with the lowest flip cost, where flipping plane p costs
    |dot_p| (how far the query is from that hyperplane). Masks of up to 3
    flipped planes are considered — enough for any practical probe count."""
    costs = np.abs(dots[:planes])
    masks = [(0.0, 0)]
    for p in range(planes):
        masks.append((costs[p], 1 << p))
        for r in range(p + 1, planes):
            masks.append((costs[p] + costs[r], (1 << p) | (1 << r)))
            for s in range(r + 1, planes):
                masks.append((costs[p] + costs[r] + costs[s],
                              (1 << p) | (1 << r) | (1 << s)))
    masks.sort()
    return [m for _, m in masks[:n_probes]]


def lsh_bucket_topk(emb: DataFrame, query_ids: list[int], k: int, dim: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    planes: int | None = None,
                    n_probes: int = 32,
                    tables: int = LSH_TABLES,
                    biases_per_table: "list[np.ndarray] | None" = None,
                    n_vectors: int | None = None) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's
    ``n_probes`` most promising LSH buckets (query-directed multiprobe)
    in each of ``tables`` independent hash tables (candidate sets
    OR-combined), exact quantized-L2 rank inside.

    Scale shape: the probe-sequence LENGTH is fixed per query while the
    bucket count 2^planes grows with the corpus (``planes=None`` =>
    ~log2(N/target) planes), so the probed fraction shrinks as N grows —
    at N=1e9 / 23 planes, 16 probes touch 16/8M buckets per table. Store
    the corpus bucket-partitioned (:func:`write_lsh_layout`, one layout
    per table) so probes prune partitions instead of scanning.

    ``biases_per_table`` / ``n_vectors``: pass the stored one-time corpus
    statistics (per-table centering biases from :func:`lsh_biases`, the
    corpus count) — otherwise each CALL pays ``tables`` full-corpus
    aggregate passes (plus a count when ``planes`` is None) just to
    rederive constants the layout already knows. Signatures dispatch via
    :func:`lsh_tagged`: JVM codegen at small planes×dim, one Arrow
    numpy-matmul pass at production dims (768-d × 20 planes is ~15k
    Column ops — past the JIT ceiling — as an expression tree)."""
    if planes is None:
        planes = auto_planes(emb.count() if n_vectors is None else n_vectors)
    spark = emb.sparkSession
    q = emb.filter(F.col(id_col).isin(query_ids)) \
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
    # queries are few and already bounded: plan probe buckets driver-side
    qrows = q.collect()
    cand_tables = []
    for t in range(tables):
        off = t * _TABLE_STRIDE
        biases = (biases_per_table[t] if biases_per_table is not None
                  else lsh_biases(emb, dim, planes, vec_col, seed_off=off))
        tagged = lsh_tagged(emb.select(id_col, vec_col), dim, planes,
                            biases, seed_off=off, vec_col=vec_col) \
            .select(id_col, "bucket")
        plane_mat = lsh_plane_matrix(planes, dim, off)
        probe_rows = []
        for r in qrows:
            v = np.array(r["qe"], dtype=np.float64)
            dots = plane_mat @ v - biases
            qbucket = int(sum(1 << p for p in range(planes) if dots[p] > 0))
            for m in _probe_sequence(dots, planes, n_probes):
                probe_rows.append((r["qid"], qbucket ^ m))
        probes = local_frame(spark, probe_rows, "qid long, bucket long")
        cand_tables.append(
            tagged.join(F.broadcast(probes), "bucket")
            .select("qid", id_col))
    cand = cand_tables[0]
    for c in cand_tables[1:]:
        cand = cand.unionByName(c)
    cand = cand.filter(F.col(id_col) != F.col("qid")).distinct()
    pairs = cand.join(emb.select(id_col, vec_col), id_col) \
        .join(F.broadcast(q), "qid")
    d2 = quantized_sq_l2(F.col("qe"), F.col(vec_col)).alias("d2")
    w = Window.partitionBy("qid").orderBy("d2", id_col)
    return (pairs.select("qid", F.col(id_col).alias("vec_id"), d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


# -- bucket/list-partitioned storage (the scale path's layout) ---------------

def write_lsh_layout(emb: DataFrame, path: str, dim: int = 64,
                     planes: int = LSH_PLANES,
                     vec_col: str = "embedding",
                     biases: "np.ndarray | None" = None,
                     seed_off: int = 0) -> None:
    """Write the corpus partitioned by LSH bucket — probe queries then
    read only their probe buckets (partition pruning), the ANN analog of
    the cell-partitioned GOL layout. Pass the corpus' centering
    ``biases`` (lsh_biases) and reuse them at query time
    (``lsh_bucket_topk(biases_per_table=...)``). Signature dispatches
    JVM/Arrow via :func:`lsh_tagged`."""
    tagged = lsh_tagged(emb, dim, planes, biases, seed_off, vec_col)
    tagged.write.mode("overwrite").partitionBy("bucket").parquet(path)


def write_ivf_layout(emb: DataFrame, path: str,
                     centroids: np.ndarray,
                     vec_col: str = "embedding") -> None:
    """Write the corpus partitioned by IVF list id (trained centroids)."""
    tagged = ivf_assign(emb, centroids, vec_col)
    tagged.write.mode("overwrite").partitionBy("list_id").parquet(path)


def save_quantizer(spark, path: str, *,
                   centroids: "np.ndarray | None" = None,
                   codebooks: "np.ndarray | None" = None,
                   planes: "np.ndarray | None" = None,
                   biases: "np.ndarray | None" = None,
                   meta: dict | None = None) -> None:
    """Persist trained ANN quantizer artifacts (IVF coarse centroids,
    PQ codebooks, LSH hyperplanes/biases) as ONE parquet dataset.

    At trillion-vector scale the quantizer IS the persistent artifact:
    the data layout (write_ivf_layout / write_lsh_layout / pq codes) is
    only valid relative to the exact arrays that produced it, so a
    restart must reload — never retrain — them (retraining yields
    different centroids → every stored list/bucket/code is misrouted).
    Arrays are stored as raw little-endian float64 bytes + shape, so
    load is BIT-exact (pytest pins array equality); ``meta`` (dims,
    n_lists, seeds, …) rides along as JSON."""
    import json as _json
    rows = []
    for kind, arr in (("centroids", centroids), ("codebooks", codebooks),
                      ("planes", planes), ("biases", biases)):
        if arr is not None:
            a = np.ascontiguousarray(arr, dtype="<f8")
            rows.append((kind, list(a.shape), bytearray(a.tobytes())))
    if meta is not None:
        rows.append(("meta", [],
                     bytearray(_json.dumps(meta, sort_keys=True)
                               .encode())))
    if not rows:
        raise ValueError("save_quantizer: nothing to save")
    spark.createDataFrame(rows, "kind string, shape array<long>, "
                                "data binary") \
        .coalesce(1).write.mode("overwrite").parquet(path)


def load_quantizer(spark, path: str) -> dict:
    """Reload :func:`save_quantizer` artifacts — bit-exact ndarrays
    under their kind names + ``meta`` dict (absent kinds → None)."""
    import json as _json
    out = {"centroids": None, "codebooks": None, "planes": None,
           "biases": None, "meta": None}
    for r in spark.read.parquet(path).collect():
        if r["kind"] == "meta":
            out["meta"] = _json.loads(bytes(r["data"]).decode())
        else:
            out[r["kind"]] = np.frombuffer(
                bytes(r["data"]), dtype="<f8").reshape(r["shape"])
    return out


def synth_embeddings(spark, n: int, dim: int, n_clusters: int = 32,
                     jitter: float = 0.08, seed: int = 0x5D2F) -> DataFrame:
    """Deterministic clustered corpus at ARBITRARY dimension — the
    dim>=256 evidence path (the gate parquet is 64-d; production CLIP/
    text embeddings are 512-768-d and the LSH/IVF physical plans differ
    there: Arrow signatures, bigger codebooks). Vector components are a
    pure function of (vec_id, component) via splitmix64-style mixing, so
    the corpus is identical under any partitioning — no Date/random."""
    from pyspark.sql import types as T

    def mix(a: np.ndarray) -> np.ndarray:
        z = (a.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    def u01(a: np.ndarray) -> np.ndarray:
        return (mix(a) >> np.uint64(11)).astype(np.float64) / float(1 << 53)

    centers = u01(np.arange(n_clusters * dim, dtype=np.uint64)
                  + np.uint64(seed) * np.uint64(0x1000003)) \
        .reshape(n_clusters, dim)
    bc = spark.sparkContext.broadcast(centers)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType()))])

    def gen(batches):
        import pandas as pd
        c = bc.value
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            cl = (ids % n_clusters).astype(np.int64)
            idx = (ids[:, None].astype(np.uint64) * np.uint64(dim)
                   + np.arange(dim, dtype=np.uint64)[None, :]
                   + np.uint64(seed))
            v = c[cl] + jitter * (u01(idx.ravel()).reshape(len(ids), dim)
                                  - 0.5)
            yield pd.DataFrame({"vec_id": ids,
                                "embedding": [row.tolist() for row in v]})

    return spark.range(n).mapInPandas(gen, schema=schema)


def ann_recall(emb: DataFrame, query_ids: list[int], k: int,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int = 64) -> DataFrame:
    """Recall@k of the approximate paths (LSH, IVF) against the exact
    brute-force baseline — the scale paths' quality metric, reported as a
    first-class query so regressions surface in the gate. ``dim`` routes
    the LSH signature (JVM codegen vs Arrow matmul past
    ``LSH_JVM_MAX_TERMS``)."""
    spark = emb.sparkSession
    # cache once: brute + LSH (count, per-table biases, signatures) + IVF
    # (train, assign) each re-derive the corpus otherwise — for derived/
    # synthetic inputs that is ~10 redundant generation passes
    emb = emb.persist()
    try:
        exact = {(r["qid"], r["vec_id"])
                 for r in brute_topk(emb, query_ids, k,
                                     id_col, vec_col).collect()}
        rows = []
        for method, df in (
                ("lsh", lsh_bucket_topk(emb, query_ids, k, dim=dim,
                                        id_col=id_col, vec_col=vec_col)),
                ("ivf", ivf_topk(emb, query_ids, k, id_col=id_col,
                                 vec_col=vec_col, nprobe=8))):
            got = {(r["qid"], r["vec_id"]) for r in df.collect()}
            hits = len(got & exact)
            rows.append((method, hits, len(exact),
                         int(round(100.0 * hits / max(len(exact), 1)))))
    finally:
        emb.unpersist()
    return spark.createDataFrame(
        rows, "method string, n_hits long, n_exact long, recall_pct long")


# -- product quantization (PQ): the memory-scale path -------------------------

PQ_M = 8          # subspaces
PQ_NBITS = 8      # centroids per subspace = 2^8


def pq_train(emb: DataFrame, m: int = PQ_M, ksub: int = 1 << PQ_NBITS,
             vec_col: str = "embedding", id_col: str = "vec_id",
             iters: int = 5) -> np.ndarray:
    """Train PQ codebooks: split each vector into ``m`` contiguous
    subvectors and k-means each subspace independently (the FAISS PQ
    recipe). Returns (m, ksub, dsub) float64 codebooks.

    Why PQ at 100 TB: a 64-d float32 vector is 256 bytes; its PQ8x8
    code is 8 bytes — 32x less memory/IO, which is what makes an
    exhaustive re-rankable scan of a trillion-vector corpus possible at
    all. Training reuses the distributed Lloyd trainer per subspace
    (one mapInPandas pass per iteration per subspace over that
    subspace's slice only)."""
    dim = len(emb.select(vec_col).first()[0])
    assert dim % m == 0, (dim, m)
    dsub = dim // m
    books = []
    for s in range(m):
        sub = emb.select(
            id_col, F.slice(vec_col, s * dsub + 1, dsub).alias(vec_col))
        cents = ivf_centroids_distributed(sub, min(ksub, emb.count()),
                                          id_col=id_col, vec_col=vec_col,
                                          iters=iters)
        books.append(cents)
    return np.stack(books)


def pq_encode(emb: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding") -> DataFrame:
    """Add ``codes`` (array<int> of length m): nearest codeword per
    subspace — one Arrow pass, numpy matmul per batch per subspace."""
    from pyspark.sql import types as T
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)
    schema = T.StructType(list(emb.schema.fields)
                          + [T.StructField("codes",
                                           T.ArrayType(T.IntegerType()))])

    def enc(batches):
        books = bc.value
        m, ksub, dsub = books.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(v), m), dtype=np.int32)
            for s in range(m):
                c = books[s]
                sub = v[:, s * dsub:(s + 1) * dsub]
                d = (-2.0 * sub @ c.T) + (c * c).sum(axis=1)[None, :]
                codes[:, s] = d.argmin(axis=1)
            pdf = pdf.copy()
            pdf["codes"] = [row.tolist() for row in codes]
            yield pdf

    return emb.mapInPandas(enc, schema=schema)


def pq_topk(codes_df: DataFrame, codebooks: np.ndarray,
            query_vecs: dict[int, np.ndarray], k: int,
            id_col: str = "vec_id") -> DataFrame:
    """(qid, vec_id, adc, rank): approximate top-k by asymmetric
    distance (ADC) — per query, precompute the (m, ksub) table of
    subspace distances to every codeword, then each candidate scores as
    m table lookups on its 8-byte code; the full-precision vector is
    never read. One Arrow pass over the codes, heap-free ranking via a
    window on the tiny per-partition survivors."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import types as T
    spark = codes_df.sparkSession
    books = codebooks
    m, ksub, dsub = books.shape
    tables = {}
    for qid, v in query_vecs.items():
        t = np.empty((m, ksub))
        for s in range(m):
            sub = np.asarray(v[s * dsub:(s + 1) * dsub], dtype=np.float64)
            t[s] = ((books[s] - sub) ** 2).sum(axis=1)
        tables[qid] = t
    bc = spark.sparkContext.broadcast(tables)
    schema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField(id_col, codes_df.schema[id_col].dataType),
        T.StructField("adc", T.DoubleType()),
    ])

    def score(batches):
        tabs = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            ids = pdf[id_col].to_numpy()
            for qid, t in tabs.items():
                adc = t[np.arange(m)[None, :], codes].sum(axis=1)
                keep = ids != qid
                yield pd.DataFrame({"qid": qid, id_col: ids[keep],
                                    "adc": adc[keep]})

    scored = codes_df.select(id_col, "codes").mapInPandas(score, schema)
    w = Window.partitionBy("qid").orderBy("adc", id_col)
    return scored.withColumn("rank", F.row_number().over(w)) \
        .filter(F.col("rank") <= k)


def ivfpq_topk(emb: DataFrame, query_ids: list[int], k: int,
               n_lists: int = IVF_LISTS, nprobe: int = IVF_NPROBE,
               shortlist: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               centroids: "np.ndarray | None" = None,
               codebooks: "np.ndarray | None" = None) -> DataFrame:
    """IVF+PQ composed — the FAISS IVFPQ architecture, the shape that
    actually runs at 10¹² vectors: the coarse quantizer routes each
    query to its ``nprobe`` nearest lists, the ADC scan reads ONLY the
    8-byte codes of probed lists, and the exact re-rank touches only
    the ``shortlist`` full-precision rows. The two reductions MULTIPLY:
    scan IO = (nprobe/n_lists) × corpus × 8 B — with 4,096 lists /
    8 probes / PQ8 that is ~1/16,000 of the raw float32 bytes.

    ``centroids``/``codebooks``: pass pre-trained artifacts (the
    at-scale shape — train once, store with the list-partitioned
    layout); both train in-line when omitted (gate scale).
    Output schema matches brute_topk: (qid, vec_id, d2, rank).

    SIZING CONTRACT (measured, BENCH/SF1.md): ``shortlist`` must cover
    the query's near-equidistant neighborhood. ADC error is the PQ
    quantization noise, so points whose true-distance spread to the
    query is below that noise are ADC-indistinguishable and the
    shortlist picks among them arbitrarily — a corpus whose local
    cluster holds 3,900 near-duplicates saw recall@10 collapse to ~5
    with shortlist=128 and recover once shortlist ≳ the shell size.
    Same contract as FAISS IVFPQ's k'/efSearch."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import types as T
    spark = emb.sparkSession
    cents = (centroids if centroids is not None
             else ivf_centroids(emb, n_lists, id_col, vec_col))
    books = codebooks if codebooks is not None \
        else pq_train(emb, vec_col=vec_col, id_col=id_col, iters=3)
    tagged = ivf_assign(emb, cents, vec_col)
    codes = pq_encode(tagged, books, vec_col) \
        .select("list_id", id_col, "codes")

    qrows_df = emb.filter(F.col(id_col).isin(query_ids)) \
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
    qrows = qrows_df.collect()
    m, ksub, dsub = books.shape
    tables, probe_rows = {}, []
    for r in qrows:
        v = np.asarray(r["qe"], dtype=np.float64)
        qid = int(r["qid"])
        d = ((cents - v) ** 2).sum(axis=1)
        for lid in np.argsort(d)[:nprobe]:
            probe_rows.append((qid, int(lid)))
        t = np.empty((m, ksub))
        for s in range(m):
            sub = v[s * dsub:(s + 1) * dsub]
            t[s] = ((books[s] - sub) ** 2).sum(axis=1)
        tables[qid] = t
    probes = local_frame(spark, probe_rows, "qid long, list_id int")
    # each code row is scored ONLY against the queries probing its list
    pc = codes.join(F.broadcast(probes), "list_id")
    bc = spark.sparkContext.broadcast(tables)
    out_schema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField(id_col, codes.schema[id_col].dataType),
        T.StructField("adc", T.DoubleType()),
    ])

    def score(batches):
        tabs = bc.value
        rng_m = np.arange(m)[None, :]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            carr = np.array(pdf["codes"].tolist(), dtype=np.int64)
            ids = pdf[id_col].to_numpy()
            qids = pdf["qid"].to_numpy()
            adc = np.empty(len(pdf))
            for qid in np.unique(qids):
                msk = qids == qid
                adc[msk] = tabs[int(qid)][rng_m, carr[msk]].sum(axis=1)
            keep = ids != qids
            yield pd.DataFrame({"qid": qids[keep], id_col: ids[keep],
                                "adc": adc[keep]})

    scored = pc.mapInPandas(score, schema=out_schema)
    ws = Window.partitionBy("qid").orderBy("adc", id_col)
    short = scored.withColumn("_r", F.row_number().over(ws)) \
        .filter(F.col("_r") <= shortlist).select("qid", id_col)
    # the shortlist is BOUNDED at |queries| × shortlist rows but carries
    # no stats (window over mapInPandas), so past the auto-broadcast
    # threshold Spark would pick a SortMergeJoin and SHUFFLE THE WHOLE
    # CORPUS just to fetch the shortlisted vectors (first seen at
    # 10⁶×256-d). Broadcast the skinny side explicitly: the fetch stays a
    # corpus-side-stationary BroadcastHashJoin at any corpus size
    # (tests/test_plan_invariants.py plans the IVF-PQ queries with
    # auto-broadcast off to pin it).
    cand = emb.select(id_col, vec_col).join(F.broadcast(short), id_col) \
        .join(F.broadcast(qrows_df), "qid")
    d2 = quantized_sq_l2(F.col("qe"), F.col(vec_col)).alias("d2")
    w = Window.partitionBy("qid").orderBy("d2", id_col)
    return (cand.select("qid", F.col(id_col).alias("vec_id"), d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def pq_topk_rerank(emb: DataFrame, codes_df: DataFrame,
                   codebooks: np.ndarray, query_ids: list[int], k: int,
                   shortlist: int = 64,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """The production PQ pipeline: ADC over the 8-byte codes produces a
    ``shortlist`` per query (the only full-corpus pass — 32x less IO
    than scanning vectors), then ONLY the shortlist rows fetch their
    full-precision vectors for an exact quantized-L2 re-rank. Output
    schema matches brute_topk (qid, vec_id, d2, rank)."""
    qrows = emb.filter(F.col(id_col).isin(query_ids)) \
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
    qvecs = {int(r["qid"]): np.asarray(r["qe"], dtype=np.float64)
             for r in qrows.collect()}
    short = pq_topk(codes_df, codebooks, qvecs, shortlist, id_col=id_col) \
        .select("qid", id_col)
    # bounded at |queries| × shortlist rows — broadcast it so fetching
    # the full-precision rows never shuffles the corpus (see ivfpq_topk)
    cand = emb.select(id_col, vec_col).join(F.broadcast(short), id_col) \
        .join(F.broadcast(qrows), "qid")
    d2 = quantized_sq_l2(F.col("qe"), F.col(vec_col)).alias("d2")
    w = Window.partitionBy("qid").orderBy("d2", id_col)
    return (cand.select("qid", F.col(id_col).alias("vec_id"), d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
