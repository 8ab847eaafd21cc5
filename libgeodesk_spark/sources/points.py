"""Deterministic geotagged-point derivation — single source of truth for the
Spark engine AND the DuckDB oracle SQL.

The correctness gate (driver CORRECTNESS check) runs each Spark query
side-by-side with an ANSI-SQL oracle over the same parquet tables. To make
spatial results bit-exact across engines, the synthetic "image points" are
derived from ``lineitem`` keys with pure integer arithmetic (LCG mixing —
no engine hash builtins, no floats), so both engines materialize the exact
same (image_id, x, y, cell_id) rows. The placement mirrors FIXTURES.md:
~80% uniform in a regional window, 20% in one hot zoom-12 cell
(Zipfian-skew stand-in, exercising the salting path).

Every constant below is embedded into BOTH the Spark Column expressions
and the generated SQL text, so there is exactly one definition.

Scale note: all of this is whole-stage-codegen JVM integer arithmetic in
Spark — at 10^12 rows it fuses into the parquet scan with zero Python and
zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# constants (shared verbatim by Spark + SQL)
# ---------------------------------------------------------------------------

ZOOM = 12

X0 = 89_000_000                            # ≈ 7.46°E
Y0 = 640_000_000                           # ≈ 47.16°N
SPAN = 1 << 23                             # 8388608 units ≈ 0.70° — 8-9 cells/axis

HOT_X_OFF = 5_000_000                      # hot-cell block offset inside window
HOT_Y_OFF = 3_000_000
HOT_SPAN = 4096                            # hot block: 4096x4096 units

LCG_A1, LCG_C1 = 2654435761, 1013904223    # Knuth/numerical-recipes constants
LCG_A2, LCG_C2 = 2246822519, 3266489917
M32 = 4294967296

N_SALTS = 16

# hot block must sit inside a single zoom-12 cell (skew demo is per-cell)
assert (X0 + HOT_X_OFF + (1 << 31)) >> 20 == (X0 + HOT_X_OFF + HOT_SPAN - 1 + (1 << 31)) >> 20
assert (0x7FFFFFFF - (Y0 + HOT_Y_OFF)) >> 20 == (0x7FFFFFFF - (Y0 + HOT_Y_OFF + HOT_SPAN - 1)) >> 20


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

def derived_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(image_id, pid, x, y, cell_id, salt, phash) derived from lineitem.

    Pure Column integer arithmetic — fuses into the scan under
    whole-stage codegen; verified bit-identical to :func:`points_sql`.
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # lineitem has duplicate (orderkey, linenumber) pairs in the synthetic
    # data -> derive from DISTINCT pids so image_id is a real key
    li = li.select((F.col("l_orderkey") * 8 + F.col("l_linenumber"))
                   .cast("long").alias("pid")).distinct()
    pid = F.col("pid")
    h1 = (pid * F.lit(LCG_A1) + F.lit(LCG_C1)) % F.lit(M32)
    h2 = (pid * F.lit(LCG_A2) + F.lit(LCG_C2)) % F.lit(M32)
    hot = (pid % 10) < 2
    x = F.when(hot, F.lit(X0 + HOT_X_OFF) + h1 % F.lit(HOT_SPAN)) \
         .otherwise(F.lit(X0) + h1 % F.lit(SPAN))
    y = F.when(hot, F.lit(Y0 + HOT_Y_OFF) + h2 % F.lit(HOT_SPAN)) \
         .otherwise(F.lit(Y0) + h2 % F.lit(SPAN))
    col = F.shiftright(x + F.lit(1 << 31), 32 - ZOOM)
    row = F.shiftright(F.lit(0x7FFFFFFF) - y, 32 - ZOOM)
    cell = F.lit(ZOOM << 24) + F.shiftleft(row, 12) + col
    return li.select(
        F.format_string("img%012d", pid).alias("image_id"),
        pid.alias("pid"),
        x.alias("x"),
        y.alias("y"),
        cell.alias("cell_id"),
        (pid % F.lit(N_SALTS)).alias("salt"),
        ((h1 % F.lit(2**31)) * F.lit(M32) + h2).alias("phash"),  # < 2^63
    )


def derived_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(way_id, ring, is_area) polyline candidates derived from the points:
    way_id = orderkey (pid >> 3), vertices = the order's points sorted by
    pid. Ways need >= 2 vertices; all gate ways are linestrings (the
    area-way special cases are pytest-covered). Pure JVM: groupBy +
    sorted collect_list, bit-identical to :func:`ways_vertices_sql`."""
    pts = derived_points(spark, sf_dir)
    ring = F.transform(
        F.array_sort(F.collect_list(F.struct("pid", "x", "y"))),
        lambda s: F.struct(s["x"].alias("x"), s["y"].alias("y")))
    return (pts.groupBy(F.shiftright(F.col("pid"), 3).alias("way_id"))
            .agg(ring.alias("ring"))
            .filter(F.size("ring") >= 2)
            .withColumn("is_area", F.lit(False)))


def ways_vertices_sql() -> str:
    """CTE text: ``wv`` = per-way vertices with a 1-based seq (pid order),
    restricted to ways with >= 2 vertices — mirrors derived_ways."""
    return f"""
    wv AS (
      SELECT way_id, pid, x, y,
             row_number() OVER (PARTITION BY way_id ORDER BY pid) AS seq,
             COUNT(*) OVER (PARTITION BY way_id) AS nv
      FROM (SELECT pid // 8 AS way_id, pid, x, y FROM pts)
      QUALIFY nv >= 2
    )"""


# ---------------------------------------------------------------------------
# DuckDB oracle side (generated SQL text with the same constants)
# ---------------------------------------------------------------------------

def points_sql() -> str:
    """CTE body reproducing :func:`derived_points` in ANSI/DuckDB SQL."""
    return f"""
    SELECT 'img' || lpad(CAST(pid AS VARCHAR), 12, '0') AS image_id,
           pid, x, y,
           ({ZOOM} * 16777216)
             + (((2147483647 - y) >> {32 - ZOOM}) * 4096)
             + ((x + 2147483648) >> {32 - ZOOM}) AS cell_id,
           pid % {N_SALTS} AS salt,
           (h1 % 2147483648) * {M32} + h2 AS phash
    FROM (
      SELECT pid,
             CASE WHEN pid % 10 < 2
                  THEN {X0 + HOT_X_OFF} + h1 % {HOT_SPAN}
                  ELSE {X0} + h1 % {SPAN} END AS x,
             CASE WHEN pid % 10 < 2
                  THEN {Y0 + HOT_Y_OFF} + h2 % {HOT_SPAN}
                  ELSE {Y0} + h2 % {SPAN} END AS y,
             h1, h2
      FROM (
        SELECT pid,
               (pid * {LCG_A1} + {LCG_C1}) % {M32} AS h1,
               (pid * {LCG_A2} + {LCG_C2}) % {M32} AS h2
        FROM (SELECT DISTINCT l_orderkey * 8 + l_linenumber AS pid FROM lineitem)
      )
    )
    """


def points_cte() -> str:
    return f"WITH pts AS ({points_sql()})"


# ---------------------------------------------------------------------------
# gate zone polygons (integer vertices inside the window; closed rings).
# Mirrors the FIXTURES.md zone inventory shapes at gate scale.
# ---------------------------------------------------------------------------

def _c(dx: int, dy: int) -> tuple[int, int]:
    return (X0 + dx, Y0 + dy)


#: convex octagon spanning several cells (zone0000 analog)
GATE_ZONE_CONVEX = [[
    _c(3_000_000, 1_000_000), _c(5_000_000, 1_500_000), _c(6_000_000, 3_000_000),
    _c(5_800_000, 5_000_000), _c(4_000_000, 6_200_000), _c(2_200_000, 5_700_000),
    _c(1_400_000, 3_800_000), _c(1_800_000, 1_900_000), _c(3_000_000, 1_000_000),
]]

#: concave comb (zone0001 analog) — many PIP crossings, incl. the hot cell
GATE_ZONE_COMB = [[
    _c(1_000_000, 1_000_000), _c(7_000_000, 1_000_000), _c(7_000_000, 6_000_000),
    _c(6_000_000, 6_000_000), _c(6_000_000, 2_500_000), _c(5_000_000, 2_500_000),
    _c(5_000_000, 6_000_000), _c(4_000_000, 6_000_000), _c(4_000_000, 2_500_000),
    _c(3_000_000, 2_500_000), _c(3_000_000, 6_000_000), _c(2_000_000, 6_000_000),
    _c(2_000_000, 2_500_000), _c(1_000_000, 2_500_000), _c(1_000_000, 1_000_000),
]]

#: square with a rectangular hole (zone0002 analog); hole ring CCW
GATE_ZONE_HOLED = [
    [_c(2_000_000, 2_000_000), _c(6_500_000, 2_000_000), _c(6_500_000, 6_500_000),
     _c(2_000_000, 6_500_000), _c(2_000_000, 2_000_000)],
    [_c(3_500_000, 3_500_000), _c(5_000_000, 3_500_000), _c(5_000_000, 5_000_000),
     _c(3_500_000, 5_000_000), _c(3_500_000, 3_500_000)],
]

GATE_ZONES = {
    "convex": GATE_ZONE_CONVEX,
    "comb": GATE_ZONE_COMB,
    "holed": GATE_ZONE_HOLED,
}


def zone_rings_rows() -> list[tuple]:
    """All gate zones as (zone_id, ring_id, role, ring) rows — the FIXTURES
    'zones' table shape (one row per ring; ring_id 0 = outer)."""
    rows = []
    for name, rings in GATE_ZONES.items():
        for i, ring in enumerate(rings):
            role = "outer" if i == 0 else "inner"
            rows.append((name, i, role, [{"x": x, "y": y} for x, y in ring]))
    return rows


def zones_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        zone_rings_rows(),
        "zone_id string, ring_id int, role string, "
        "ring array<struct<x: long, y: long>>")


def zone_vertices_values_sql() -> str:
    """Gate zone ring vertices as a VALUES relation
    v(zone_id, ring_id, role, idx, x, y) — closed rings, idx 1-based."""
    rows = []
    for name, rings in GATE_ZONES.items():
        for i, ring in enumerate(rings):
            role = "outer" if i == 0 else "inner"
            for j, (x, y) in enumerate(ring):
                rows.append(f"('{name}',{i},'{role}',{j + 1},"
                            f"CAST({x} AS BIGINT),CAST({y} AS BIGINT))")
    return ("(VALUES " + ",".join(rows)
            + ") AS v(zone_id, ring_id, role, idx, x, y)")


def zone_edges_values_sql(rings: list[list[tuple[int, int]]]) -> str:
    """Polygon edges as an inline VALUES relation e(ax, ay, bx, by)."""
    rows = []
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            rows.append(
                f"(CAST({ax} AS BIGINT),CAST({ay} AS BIGINT),"
                f"CAST({bx} AS BIGINT),CAST({by} AS BIGINT))")
    return "(VALUES " + ",".join(rows) + ") AS e(ax, ay, bx, by)"


def locate_sql(rings: list[list[tuple[int, int]]],
               px: str = "p.x", py: str = "p.y") -> dict[str, str]:
    """SQL fragments computing the crossing-parity location of point
    (px,py) against the zone — the exact per-edge half-open formulation of
    the kernel (see geom/kernel.py locate_points): aggregate over the edge
    VALUES relation; ``crossings`` and ``on_boundary`` columns."""
    crossing = (
        f"CASE WHEN e.ay <> e.by "
        f"AND {py} >= least(e.ay, e.by) AND {py} < greatest(e.ay, e.by) "
        f"AND ({px} < least(e.ax, e.bx) OR ({px} <= greatest(e.ax, e.bx) AND "
        f"CASE WHEN e.ay < e.by "
        f"THEN (e.bx - e.ax) * ({py} - e.ay) - (e.by - e.ay) * ({px} - e.ax) "
        f"ELSE (e.ax - e.bx) * ({py} - e.by) - (e.ay - e.by) * ({px} - e.bx) "
        f"END > 0)) THEN 1 ELSE 0 END"
    )
    on_seg = (
        f"CASE WHEN {px} >= least(e.ax, e.bx) AND {px} <= greatest(e.ax, e.bx) "
        f"AND {py} >= least(e.ay, e.by) AND {py} <= greatest(e.ay, e.by) "
        f"AND (e.bx - e.ax) * ({py} - e.ay) - (e.by - e.ay) * ({px} - e.ax) = 0 "
        f"THEN 1 ELSE 0 END"
    )
    return {"crossing": crossing, "on_seg": on_seg,
            "edges": zone_edges_values_sql(rings)}


def orientation_sql(x1, y1, x2, y2, px, py) -> str:
    """Reference LineSegment::orientation as SQL (args are SQL exprs):
    sign of q×d with the collinear on-segment refinement
    (src/geom/LineSegment.cpp:17-36). Mirror of kernel.orientation."""
    dx, dy = f"(({x2}) - ({x1}))", f"(({y2}) - ({y1}))"
    qx, qy = f"(({px}) - ({x1}))", f"(({py}) - ({y1}))"
    ccw = f"({qx} * {dy} - {qy} * {dx})"
    d1 = f"({qx} * {dx} + {qy} * {dy})"
    beyond = f"(({qx} - {dx}) * {dx} + ({qy} - {dy}) * {dy})"
    return (f"sign(CASE WHEN {ccw} <> 0 THEN {ccw} "
            f"WHEN {d1} > 0 THEN greatest({beyond}, 0) "
            f"ELSE {d1} END)")


def segments_intersect_sql(s1: tuple, s2: tuple) -> str:
    """linesIntersect (LineSegment.cpp:43-53): both straddle tests ≤ 0.
    ``s1``/``s2`` are 4-tuples of SQL expressions (x1,y1,x2,y2)."""
    o1 = orientation_sql(*s1, s2[0], s2[1])
    o2 = orientation_sql(*s1, s2[2], s2[3])
    o3 = orientation_sql(*s2, s1[0], s1[1])
    o4 = orientation_sql(*s2, s1[2], s1[3])
    return f"(({o1}) * ({o2}) <= 0 AND ({o3}) * ({o4}) <= 0)"


def crossing_segments_sql(rings: list[list[tuple[int, int]]]) -> str:
    """Oracle for the crossing-segments query: segments from consecutive
    pids, kept iff they intersect any zone edge."""
    cond = segments_intersect_sql(
        ("s.x1", "s.y1", "s.x2", "s.y2"), ("e.ax", "e.ay", "e.bx", "e.by"))
    return f"""
    {points_cte()},
    seg AS (
      SELECT a.pid AS seg_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      FROM pts a JOIN pts b ON b.pid = a.pid + 1)
    SELECT DISTINCT s.seg_id
    FROM seg s JOIN {zone_edges_values_sql(rings)} ON {cond}
    """


def within_sql(rings: list[list[tuple[int, int]]],
               select_cols: str = "image_id, cell_id",
               strict: bool = True) -> str:
    """Full oracle query: points strictly inside (within, node semantics
    WithinFilter.cpp:60-63) or inside-or-boundary (strict=False,
    intersects/contains-point semantics ContainsPointFilter.cpp:11-25)."""
    frag = locate_sql(rings)
    cond = ("on_boundary = 0 AND crossings % 2 = 1" if strict
            else "(on_boundary = 1 OR crossings % 2 = 1)")
    return f"""
    {points_cte()},
    loc AS (
      SELECT p.image_id, p.cell_id, p.x, p.y,
             SUM({frag['crossing']}) AS crossings,
             MAX({frag['on_seg']}) AS on_boundary
      FROM pts p CROSS JOIN {frag['edges']}
      GROUP BY p.image_id, p.cell_id, p.x, p.y
    )
    SELECT {select_cols} FROM loc WHERE {cond}
    """


# ---------------------------------------------------------------------------
# way-candidate oracle SQL (mirrors operators/way_join.py semantics:
# WithinFilter.cpp:21-57 locateWayNodes, IntersectsFilter.cpp:36-75,
# SpatialFilter.cpp:23-76 MUST_ACCEPT_ALL_MEMBERS)
# ---------------------------------------------------------------------------

def _way_vloc_sql(rings: list[list[tuple[int, int]]]) -> str:
    """CTE text locating every way vertex: ``vloc(way_id, pid, l)`` with
    l in {-1, 0, 1} (locateWayNodes per-vertex values)."""
    frag = locate_sql(rings, px="w.x", py="w.y")
    return f"""
    loc AS (
      SELECT w.way_id, w.pid,
             SUM({frag['crossing']}) AS crossings,
             MAX({frag['on_seg']}) AS onb
      FROM wv w CROSS JOIN {frag['edges']}
      GROUP BY w.way_id, w.pid),
    vloc AS (
      SELECT way_id, pid,
             CASE WHEN onb = 1 THEN 0
                  WHEN crossings % 2 = 1 THEN 1 ELSE -1 END AS l
      FROM loc)"""


def _way_seg_sql() -> str:
    """CTE text: ``seg`` = consecutive-vertex way segments (pid order)."""
    return """
    seg AS (
      SELECT a.way_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      FROM wv a JOIN wv b ON b.way_id = a.way_id AND b.seq = a.seq + 1)"""


def way_within_sql(rings: list[list[tuple[int, int]]]) -> str:
    """Linestring ways within the zone: no vertex outside, at least one
    vertex strictly inside (WithinFilter::acceptWay for !isArea)."""
    return f"""
    {points_cte()}, {ways_vertices_sql()}, {_way_vloc_sql(rings)}
    SELECT way_id FROM vloc GROUP BY way_id
    HAVING MIN(l) >= 0 AND MAX(l) = 1
    """


def way_intersects_sql(rings: list[list[tuple[int, int]]]) -> str:
    """Ways intersecting the zone: any vertex inside-or-boundary, or any
    segment crossing a zone edge (IntersectsFilter::acceptWay, lineal)."""
    cond = segments_intersect_sql(
        ("s.x1", "s.y1", "s.x2", "s.y2"), ("e.ax", "e.ay", "e.bx", "e.by"))
    return f"""
    {points_cte()}, {ways_vertices_sql()}, {_way_vloc_sql(rings)},
    {_way_seg_sql()}
    SELECT way_id FROM vloc GROUP BY way_id HAVING MAX(l) >= 0
    UNION
    SELECT DISTINCT s.way_id
    FROM seg s JOIN {zone_edges_values_sql(rings)} ON {cond}
    """


def rel_within_sql(rings: list[list[tuple[int, int]]]) -> str:
    """Non-area gate relations (rel_id = way_id; members = the way's
    2-vertex segments) within the zone: MUST_ACCEPT_ALL_MEMBERS — no
    member vertex outside AND at least one member vertex strictly inside
    (WithinFilter::locateMembers > 0). Flattening over member vertices is
    exactly equivalent (shared vertices don't change min/max)."""
    return f"""
    {points_cte()}, {ways_vertices_sql()}, {_way_vloc_sql(rings)}
    SELECT way_id AS rel_id FROM vloc GROUP BY way_id
    HAVING MIN(l) >= 0 AND MAX(l) = 1
    """


def rel_intersects_sql(rings: list[list[tuple[int, int]]]) -> str:
    """Non-area gate relations intersecting: ANY member accepted
    (SpatialFilter::acceptMembers without MUST_ACCEPT_ALL_MEMBERS) — a
    2-vertex member is accepted iff a vertex locates >= 0 or its segment
    crosses an edge."""
    cond = segments_intersect_sql(
        ("s.x1", "s.y1", "s.x2", "s.y2"), ("e.ax", "e.ay", "e.bx", "e.by"))
    return f"""
    {points_cte()}, {ways_vertices_sql()}, {_way_vloc_sql(rings)},
    {_way_seg_sql()},
    acc AS (
      SELECT way_id FROM vloc GROUP BY way_id HAVING MAX(l) >= 0
      UNION
      SELECT DISTINCT s.way_id
      FROM seg s JOIN {zone_edges_values_sql(rings)} ON {cond})
    SELECT way_id AS rel_id FROM acc
    """


def way_crossing_sql(rings: list[list[tuple[int, int]]]) -> str:
    """Whole-way crossing oracle (CrossesFilter semantics over stored
    ways): a way accepts iff ANY consecutive-vertex segment intersects
    any zone edge — the DISTINCT way_id projection of the segment
    crossing test."""
    cond = segments_intersect_sql(
        ("s.x1", "s.y1", "s.x2", "s.y2"), ("e.ax", "e.ay", "e.bx", "e.by"))
    return f"""
    {points_cte()}, {ways_vertices_sql()}, {_way_seg_sql()}
    SELECT DISTINCT s.way_id
    FROM seg s JOIN {zone_edges_values_sql(rings)} ON {cond}
    """


def way_distance_sql(qx: int, qy: int, d2_limit: float) -> str:
    """maxMetersFrom for linestring ways: min point-segment squared
    distance STRICTLY below d2_limit (PointDistanceFilter.cpp:25-47,
    accept() uses `<`); float64 expression tree identical to the kernel."""
    from libgeodesk_spark.operators.distance import _seg_d2_sql
    d2 = _seg_d2_sql(px=str(qx), py=str(qy), ax="s.x1", ay="s.y1",
                     bx="s.x2", by="s.y2")
    return f"""
    {points_cte()}, {ways_vertices_sql()}, {_way_seg_sql()},
    d AS (SELECT way_id, MIN({d2}) AS min_d2 FROM seg s GROUP BY way_id)
    SELECT way_id, CAST(floor(min_d2) AS BIGINT) AS d2
    FROM d WHERE min_d2 < {d2_limit!r}
    """
