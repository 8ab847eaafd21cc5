"""Plan invariants of every declared query.

Each ``__spark_entry__.queries()`` entry is built at sf0.001 and its
physical plan is read without running the query. (Building some entries
runs jobs of its own: kNN rounds, streaming epochs.) The
engine is fast only while its plans keep this shape:

* no SortMergeJoin, no CartesianProduct and no row-at-a-time Python
  (BatchEvalPython, ArrowEvalPython) anywhere;
* at most ``MAX_EXCHANGES[name]`` shuffle Exchanges; BroadcastExchange
  and ReusedExchange do not count. The ceilings are this test's own
  counts when it was written;
* the positive shape in ``SHAPES`` for the queries that have one.

The sf0.001 plan is not the plan at scale. Eight queries join sides
small enough to broadcast by size estimate alone, so with
``spark.sql.autoBroadcastJoinThreshold=-1`` their plans carry a
SortMergeJoin: simhash_near_dups, minhash_lsh_pairs, ngram_jaccard_pairs,
nodes_of, crossing_segments, phash_near_dups, near_pairs and tile_metrics
(its persisted gate join).
"""

import re

import pytest

import __spark_entry__ as entry

FORBIDDEN = ("SortMergeJoin", "CartesianProduct", "BatchEvalPython",
             "ArrowEvalPython")

# a plan-tree line whose node is a shuffle "Exchange" (not Broadcast-/
# ReusedExchange, whose names run on into "Exchange")
_EXCHANGE = re.compile(r"(?m)^[\s|:+\-]*Exchange\b")

MAX_EXCHANGES = {
    **dict.fromkeys([
        "goql_filter", "goql_tags", "knn_batch", "knn_join", "knn_k5",
        "knn_k50", "rel_members_recursive", "snapshot_evolved",
        "snapshot_scan", "stream_dedup", "stream_join", "stream_sessions",
        "stream_snapshot", "stream_window_counts", "stream_within",
        "text_features"], 0),
    **dict.fromkeys([
        "asof_views", "bbox_window", "cell_assign", "contains_point",
        "distance_to_zone", "exact_dedup", "members_of",
        "orders_by_segment", "parents_of", "radius_500k", "simhash",
        "snapshot_within", "tpch_q1", "user_sessions", "zone_bbox",
        "zone_centroid", "zone_lambert_area", "zone_length",
        "zone_shoelace", "zorder_key"], 1),
    **dict.fromkeys([
        "cell_pyramid", "cell_ring", "colocated_grid", "crossing_segments",
        "events_by_type", "hot_cells", "near_pairs", "simhash_near_dups",
        "tile_captions", "tile_stats", "way_distance", "way_intersects",
        "way_length", "way_within"], 2),
    **dict.fromkeys([
        "intersects_comb", "rel_intersects", "way_crossing", "within_comb",
        "within_convex", "within_holed"], 3),
    **dict.fromkeys(["cell_hulls", "nodes_of"], 4),
    **dict.fromkeys(["phash_near_dups", "rel_within"], 5),
    "tile_mosaic": 6,
    "zoneprep_within": 7,
    "tile_metrics": 10,
    "minhash_lsh_pairs": 18,
    "ngram_jaccard_pairs": 19,
}

# name -> [(pattern, must_match)]
SHAPES = {
    # the point-in-zone join: JVM broadcast join for INSIDE cells, Arrow
    # locate only for the boundary band
    **dict.fromkeys(("within_convex", "within_comb", "within_holed",
                     "intersects_comb", "contains_point"),
                    [(r"BroadcastHashJoin", True), (r"MapInPandas", True)]),
    # the snapshot window pushes its box into the parquet scan (the plan
    # string truncates the filter list before the y bounds)
    "snapshot_within": [(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(x",
                         True)],
    # the GOQL matcher is one Catalyst filter whose tag test reaches the scan
    "goql_filter": [(r"PushedFilters: \[[^\]]*lang", True)],
    # as-of: one windowed pass over the union, no range join
    "asof_views": [(r"Window", True), (r"Join", False)],
    # manifest pruning happens before planning; the residual range still
    # reaches the scan
    "snapshot_scan": [(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(cell_id",
                       True)],
}

QUERIES = entry.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    """name -> DataFrame, each query built once per module."""
    cache = {}

    def get(name):
        if name not in cache:
            cache[name] = QUERIES[name](spark, sf_dir)
        return cache[name]
    return get


def test_every_query_has_a_ceiling():
    assert set(MAX_EXCHANGES) == set(QUERIES)
    assert set(SHAPES) <= set(QUERIES)


@pytest.mark.parametrize("name", list(QUERIES))
def test_plan_invariants(built, name):
    plan = _plan(built(name))
    assert [f for f in FORBIDDEN if f in plan] == []
    assert len(_EXCHANGE.findall(plan)) <= MAX_EXCHANGES[name]
    for pattern, must in SHAPES.get(name, ()):
        assert bool(re.search(pattern, plan)) == must, pattern
