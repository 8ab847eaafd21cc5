"""Topological navigation — T1-T4 of SURVEY §2.4.

The reference walks member tables with foreign TIP/TEX tile references
(MemberIterator.h:32-150) and answers parents via relation tables plus a
spatial probe with FeatureNodeFilter (FeatureIteratorBase.cpp:87-127). In
Spark, topology is plain equi-joins against a membership table — the
foreign-tile indirection dissolves into join keys (SURVEY §3.3: "no clever
physical analog needed").

A membership table has (rel_id, member_id, role, ...). ``members_of`` /
``parents_of`` are thin, declarative, and broadcast the probe-id set when
small — the index-nested-loop shape of the reference.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def members_of(membership: DataFrame, rel_ids: Sequence,
               rel_col: str = "rel_id",
               roles: Sequence[str] | None = None) -> DataFrame:
    """Members of the given relations; optional role filter (J7 withRole,
    src/filter/RoleFilter.cpp:11-85)."""
    out = membership.filter(F.col(rel_col).isin(list(rel_ids)))
    if roles is not None:
        out = out.filter(F.col("role").isin(list(roles)))
    return out


def parents_of(membership: DataFrame, member_ids: Sequence,
               member_col: str = "member_id",
               rel_col: str = "rel_id") -> DataFrame:
    """Distinct parents of the given members (parentsOf — reverse walk of
    the relation table, FeatureIteratorBase.cpp:162-196)."""
    return (membership.filter(F.col(member_col).isin(list(member_ids)))
            .select(member_col, rel_col).distinct())


def parent_ways_of_vertex(way_vertices: DataFrame, x: int, y: int,
                          way_col: str = "way_id") -> DataFrame:
    """parentWaysOf(anonymous node): all ways passing through an exact
    coordinate (View.h:228-245) — an equality probe on the exploded
    vertex table (int64 packed key join, ConnectedFilter-style)."""
    return (way_vertices.filter((F.col("x") == x) & (F.col("y") == y))
            .select(way_col).distinct())


def connected_to(way_vertices: DataFrame, way_id,
                 way_col: str = "way_id") -> DataFrame:
    """Ways sharing ≥1 exact vertex with ``way_id``, self excluded
    (connectedTo, src/filter/ConnectedFilter.cpp:10-118): self-join on the
    packed vertex key."""
    probe = way_vertices.filter(F.col(way_col) == way_id) \
        .select("vkey").distinct()
    return (way_vertices.join(F.broadcast(probe), "vkey")
            .filter(F.col(way_col) != way_id)
            .select(way_col).distinct())


def connected_to_relation(way_vertices: DataFrame, membership: DataFrame,
                          rel_id, way_col: str = "way_id",
                          rel_col: str = "rel_id",
                          member_col: str = "member_id",
                          recursive: bool = False) -> DataFrame:
    """connectedTo for a RELATION candidate: ways sharing >= 1 exact
    vertex with ANY way member of ``rel_id``, the relation's own members
    excluded — the reference resolves relation candidates through their
    members (src/filter/ConnectedFilter.cpp:60-118 collects the
    anchor's member coordinates, then matches candidates against that
    coordinate set).

    ``recursive=True`` resolves members through the cycle-guarded
    closure walk (:func:`members_recursive`) so superrelation anchors
    connect through nested members too. Shape: member-id semi-join →
    distinct vertex keys of the member set (broadcast when small) →
    equi-join on the packed key — identical physical plan to the
    way↔way case with a wider probe set."""
    if recursive:
        mids = relation_ways_recursive(membership, [rel_id],
                                       rel_col=rel_col,
                                       member_col=member_col) \
            .select(F.col("member_id").alias(way_col)).distinct()
    else:
        mids = membership.filter(F.col(rel_col) == rel_id) \
            .select(F.col(member_col).alias(way_col)).distinct()
    probe = way_vertices.join(F.broadcast(mids), way_col) \
        .select("vkey").distinct()
    return (way_vertices.join(F.broadcast(probe), "vkey")
            .join(mids, way_col, "left_anti")
            .select(way_col).distinct())


def members_recursive(membership: DataFrame, rel_ids: Sequence,
                      rel_col: str = "rel_id",
                      member_col: str = "member_id",
                      type_col: str = "mtype",
                      relation_type: str = "relation",
                      max_depth: int = 32) -> DataFrame:
    """Transitive members of the given relations — relations as members
    of relations, cycle-guarded (the reference's RelatedIterator walk,
    include/geodesk/feature/RelatedIterator.h:20-80, with the
    RecursionGuard every recursive consumer carries,
    include/geodesk/feature/RelationPtr.h; OSM superrelations — route
    masters, admin hierarchies — need this on the first query).

    Spark shape: BFS closure as an ITERATIVE equi-join. Each round joins
    the frontier's relation-typed members back to the membership table,
    then anti-joins against the (root_id, member_id, mtype) seen-set — the
    distributed RecursionGuard, keyed like the reference's TYPED
    FeatureId (way 5 and relation 5 are distinct members — separate OSM
    id namespaces): a member reached before (including through
    a CYCLE back to any ancestor) never re-enters the frontier, so the
    loop terminates on arbitrary cyclic graphs in <= max_depth rounds and
    each member lands at its MINIMUM depth (BFS order). Per-round state is
    localCheckpointed: iterative joins otherwise stack lineage and the
    plan re-executes from scratch each round.

    Output: (root_id, member_id, mtype, depth>=1) — one row per first
    reachable (root, member, mtype); ``depth`` is the shortest member-chain
    length. Scale: each round is one shuffle join frontier×membership +
    one anti-join; the frontier shrinks to relation-typed fan-out only,
    and real member forests are depth <=10 (the cap is a guard, not a
    budget). Raises if max_depth rounds leave an unexhausted frontier.
    """
    memb = membership.select(F.col(rel_col).alias("_rid"),
                             F.col(member_col).alias("member_id"),
                             F.col(type_col).alias("mtype"))
    frontier = (memb.filter(F.col("_rid").isin(list(rel_ids)))
                .select(F.col("_rid").alias("root_id"), "member_id", "mtype",
                        F.lit(1).alias("depth"))
                .distinct().localCheckpoint(eager=True))
    seen = frontier
    for depth in range(2, max_depth + 1):
        rels = frontier.filter(F.col("mtype") == relation_type) \
            .select("root_id", F.col("member_id").alias("_rid"))
        if rels.isEmpty():
            return seen
        nxt = (rels.join(memb, "_rid")
               .select("root_id", "member_id", "mtype",
                       F.lit(depth).alias("depth"))
               .distinct()
               .join(seen.select("root_id", "member_id", "mtype"),
                     ["root_id", "member_id", "mtype"], "left_anti")
               .localCheckpoint(eager=True))
        if nxt.isEmpty():
            return seen
        seen = seen.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    if not frontier.filter(F.col("mtype") == relation_type).isEmpty():
        raise RuntimeError(
            f"members_recursive: frontier not exhausted after "
            f"max_depth={max_depth} rounds — raise max_depth")
    return seen


def relation_ways_recursive(membership: DataFrame, rel_ids: Sequence,
                            way_type: str = "way", **kw) -> DataFrame:
    """(root_id, member_id) for every WAY member transitively reachable
    from ``rel_ids`` — the resolution step relation length/area/centroid
    aggregate through (the reference computes relation geometry over the
    recursive member walk: src/geom/Length.cpp:29-58 iterates members
    depth-first under a RecursionGuard; Area/Centroid likewise)."""
    return (members_recursive(membership, rel_ids, **kw)
            .filter(F.col("mtype") == way_type)
            .select("root_id", "member_id"))


def relation_length_recursive(membership: DataFrame, ways: DataFrame,
                              rel_ids: Sequence,
                              way_id: str = "way_id",
                              length_col=None, **kw) -> DataFrame:
    """Relation length through the RECURSIVE member walk (G2 for nested
    relations): Σ length of every transitively-reachable way member,
    each counted once per root (cycle-guarded dedup upstream). Pass
    ``length_col`` as a Column over ``ways`` (default: way_length_cm of
    ``ring``)."""
    from libgeodesk_spark.functions.geometry import way_length_cm
    lc = length_col if length_col is not None \
        else way_length_cm(F.col("ring"))
    wl = ways.select(F.col(way_id).alias("member_id"), lc.alias("_len"))
    closure = relation_ways_recursive(membership, rel_ids, **kw)
    return (closure.join(wl, "member_id")
            .groupBy("root_id").agg(F.sum("_len").alias("length_cm")))


def relation_area_m2_recursive(membership: DataFrame, ways: DataFrame,
                               rel_ids: Sequence,
                               way_id: str = "way_id",
                               ring_col: str = "ring",
                               is_area_col: str = "is_area",
                               **kw) -> DataFrame:
    """Relation area through the RECURSIVE member walk (G4 for nested
    relations): Σ ring_area_m2 of every transitively-reachable AREA
    member, each counted once per root. Member rings are treated as
    independent shells — the common multipolygon-outer case; relations
    whose member ways only form rings TOGETHER (or carry holes) go
    through the driver-side polygonizer (geom/polygonize.build_rings /
    assign_holes), exactly as the reference polygonizes per relation
    (src/geom/Area.cpp:52-79)."""
    from libgeodesk_spark.functions.geometry import ring_area_m2
    closure = relation_ways_recursive(membership, rel_ids, **kw)
    w = ways.filter(F.col(is_area_col)).select(
        F.col(way_id).alias("member_id"),
        ring_area_m2(F.col(ring_col)).alias("_a"))
    return (closure.join(w, "member_id")
            .groupBy("root_id").agg(F.sum("_a").alias("area_m2")))


def relation_centroid_recursive(membership: DataFrame, ways: DataFrame,
                                rel_ids: Sequence,
                                way_id: str = "way_id",
                                ring_col: str = "ring",
                                is_area_col: str = "is_area",
                                **kw) -> DataFrame:
    """Relation centroid through the RECURSIVE member walk with the
    reference's priority dispatch (Centroid::ofRelation,
    src/geom/Centroid.cpp:51-74: areal > lineal, bbox-center fallback),
    distributed: ONE conditional aggregation per root — area members
    contribute ring-weighted terms (each as a shell, Centroid.cpp:77-88),
    line members length-weighted terms; whichever tier is non-degenerate
    wins. Returns (root_id, centroid_x, centroid_y)."""
    from libgeodesk_spark.functions.geometry import (
        ring_bbox,
        ring_centroid_terms,
    )
    closure = relation_ways_recursive(membership, rel_ids, **kw)
    a, cx, cy = ring_centroid_terms(F.col(ring_col), F.lit(True))
    is_area = F.col(is_area_col)
    zero = F.lit(0.0)
    # lineal raw terms (not the final rounded pair): reuse the same
    # geometry as lineal_centroid but keep the sums aggregatable
    from libgeodesk_spark.functions.geometry import _pairs
    seg_len = F.transform(_pairs(F.col(ring_col)), lambda e: F.sqrt(
        ((e["p2"]["x"] - e["p1"]["x"]) * (e["p2"]["x"] - e["p1"]["x"])
         + (e["p2"]["y"] - e["p1"]["y"]) * (e["p2"]["y"] - e["p1"]["y"]))
        .cast("double")))
    add = lambda acc, v: acc + v  # noqa: E731
    tot = F.aggregate(seg_len, zero, add)
    wx = F.aggregate(
        F.zip_with(_pairs(F.col(ring_col)), seg_len,
                   lambda e, sl: (e["p1"]["x"] + e["p2"]["x"])
                   .cast("double") * sl), zero, add)
    wy = F.aggregate(
        F.zip_with(_pairs(F.col(ring_col)), seg_len,
                   lambda e, sl: (e["p1"]["y"] + e["p2"]["y"])
                   .cast("double") * sl), zero, add)
    b = ring_bbox(F.col(ring_col))
    w = ways.select(
        F.col(way_id).alias("member_id"),
        F.when(is_area, a).otherwise(zero).alias("_a"),
        F.when(is_area, cx).otherwise(zero).alias("_cx"),
        F.when(is_area, cy).otherwise(zero).alias("_cy"),
        F.when(~is_area, tot).otherwise(zero).alias("_t"),
        F.when(~is_area, wx).otherwise(zero).alias("_wx"),
        F.when(~is_area, wy).otherwise(zero).alias("_wy"),
        b["min_x"].alias("_mnx"), b["min_y"].alias("_mny"),
        b["max_x"].alias("_mxx"), b["max_y"].alias("_mxy"))
    agg = (closure.join(w, "member_id").groupBy("root_id")
           .agg(F.sum("_a").alias("a"), F.sum("_cx").alias("cx"),
                F.sum("_cy").alias("cy"), F.sum("_t").alias("t"),
                F.sum("_wx").alias("wx"), F.sum("_wy").alias("wy"),
                F.min("_mnx").alias("mnx"), F.min("_mny").alias("mny"),
                F.max("_mxx").alias("mxx"), F.max("_mxy").alias("mxy")))
    areal_x = F.round(F.col("cx") / (F.lit(3.0) * F.col("a"))).cast("long")
    areal_y = F.round(F.col("cy") / (F.lit(3.0) * F.col("a"))).cast("long")
    lineal_x = F.round(F.col("wx") / (F.col("t") * 2.0)).cast("long")
    lineal_y = F.round(F.col("wy") / (F.col("t") * 2.0)).cast("long")
    bbox_x = ((F.col("mnx") + F.col("mxx")) / 2).cast("long")
    bbox_y = ((F.col("mny") + F.col("mxy")) / 2).cast("long")
    cx_out = F.when(F.col("a") != 0.0, areal_x) \
        .when(F.col("t") > 0.0, lineal_x).otherwise(bbox_x)
    cy_out = F.when(F.col("a") != 0.0, areal_y) \
        .when(F.col("t") > 0.0, lineal_y).otherwise(bbox_y)
    return agg.select("root_id", cx_out.alias("centroid_x"),
                      cy_out.alias("centroid_y"))


def nodes_of(ways: DataFrame, feature_nodes: DataFrame,
             way_col: str = "way_id", ring_col: str = "ring",
             node_id: str = "node_id") -> DataFrame:
    """nodesOf(way) with ANONYMOUS node synthesis (T2): every way vertex
    becomes a row; vertices matching a stored feature node by exact
    coordinate carry its id, the rest get a NULL id — the reference
    synthesizes id+xy rows for untagged nodes the same way
    (FeatureIteratorBase.cpp:233-261 fetchNext: featureNodeIterator merge,
    anonymous coordinates yielded between feature nodes).

    ``feature_nodes`` = (node_id, x, y). Output: (way_id, seq, x, y,
    node_id nullable). Left join on the packed vertex key — broadcastable
    when the node table is small, shuffle-join otherwise (Catalyst picks).
    """
    v = ways.select(
        way_col,
        F.posexplode(ring_col).alias("seq", "p")).select(
        way_col, "seq",
        F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    key = F.shiftleft(F.col("y").cast("long").bitwiseAND(F.lit(0xFFFFFFFF)), 32) \
        .bitwiseOR(F.col("x").cast("long").bitwiseAND(F.lit(0xFFFFFFFF)))
    v = v.withColumn("_vk", key)
    fn = feature_nodes.select(
        F.col(node_id),
        F.shiftleft(F.col("y").cast("long").bitwiseAND(F.lit(0xFFFFFFFF)), 32)
        .bitwiseOR(F.col("x").cast("long").bitwiseAND(F.lit(0xFFFFFFFF)))
        .alias("_vk"))
    return (v.join(fn, "_vk", "left")
            .select(way_col, "seq", "x", "y", node_id)
            .orderBy(way_col, "seq"))
