"""Plan-shape pins: Python workers start only for rows that need them.

Each Python task costs a fixed worker set-up before it reads a row, so
the query paths keep Python stages sized by the rows that need Python:

* a ``knn`` result is a driver-local Arrow frame — collecting it starts
  no Spark job;
* ``join_zones`` sends only the boundary band through a ``rebalance``
  exchange, so AQE runs a small query's ``mapInPandas`` locate in ONE
  task however many scan splits the source has;
* both branches of ``join_zones`` (JVM-accepted INSIDE rows, refined
  BOUNDARY rows) share one broadcast of the interval table;
* streaming input keeps the plan free of that exchange.
"""

import numpy as np
import pytest

from libgeodesk_spark.geom import kernel
from libgeodesk_spark.geom.zones import prepare_zone
from libgeodesk_spark.operators.knn import knn
from libgeodesk_spark.operators.spatial_join import join_zones
from libgeodesk_spark.sources.points import GATE_ZONES, X0, Y0, derived_points

SPLITS = 3


@pytest.fixture(scope="module")
def split_points(spark, sf_dir, tmp_path_factory):
    """The sf points as a parquet table of SPLITS files, so the scan has
    several splits (one Python task each before the rebalance)."""
    path = str(tmp_path_factory.mktemp("split_points") / "pts")
    derived_points(spark, sf_dir).select("image_id", "x", "y", "cell_id") \
        .repartition(SPLITS).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == SPLITS
    return df


def _in_group(spark, group, fn):
    """fn() under a fresh job group; returns (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _nodes(plan):
    """Every node of an executed physical plan, through AQE query stages."""
    out, todo = [], [plan]
    while todo:
        n = todo.pop()
        out.append(n)
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(n.executedPlan())
        elif "QueryStage" in name:
            todo.append(n.plan())
        todo.extend(_seq(n.children()))
    return out


def test_knn_result_is_local(spark, split_points):
    qx, qy = X0 + 4_000_000, Y0 + 4_000_000
    res, ring_jobs = _in_group(spark, "knn-rounds",
                               lambda: knn(split_points, qx, qy, 20))
    assert ring_jobs, "the ring rounds run Spark jobs"
    rows, jobs = _in_group(spark, "knn-collect", res.collect)
    assert len(rows) == 20
    assert jobs == []
    plan = res._jdf.queryExecution().executedPlan()
    assert plan.nodeName() == "LocalTableScan"
    assert res.schema.simpleString() == \
        "struct<image_id:string,x:bigint,y:bigint,sq_dist:bigint>"


def test_join_zones_runs_one_python_task(spark, split_points):
    zone = prepare_zone("comb", [np.array(r) for r in GATE_ZONES["comb"]])
    agg = join_zones(split_points, [zone], predicate="within",
                     columns=["image_id"]).groupBy().count()
    (row,), jobs = _in_group(spark, "join-count", agg.collect)
    pdf = split_points.select("x", "y").toPandas()
    loc = kernel.locate_points(pdf.x.to_numpy(), pdf.y.to_numpy(), zone.edges)
    assert row[0] == int((loc == kernel.INSIDE).sum()) > 0
    assert jobs

    pandas_nodes = [n for n in _nodes(agg._jdf.queryExecution().executedPlan())
                    if n.nodeName() == "MapInPandas"]
    assert len(pandas_nodes) == 1
    # the MapInPandas stage runs one task per partition of its input
    assert pandas_nodes[0].child().execute().getNumPartitions() == 1


def test_join_zones_broadcasts_intervals_once(spark, split_points):
    zone = prepare_zone("comb", [np.array(r) for r in GATE_ZONES["comb"]])
    agg = join_zones(split_points, [zone], predicate="within",
                     columns=["image_id"]).groupBy().count()
    assert agg.collect()[0][0] > 0
    nodes = _nodes(agg._jdf.queryExecution().executedPlan())
    exchanges = [n for n in nodes if n.nodeName() == "BroadcastExchange"]
    assert len(exchanges) == 1
    assert "cell_row" in exchanges[0].child().output().toString()
    assert any(n.nodeName() == "ReusedExchange" for n in nodes)


def test_streaming_join_has_no_rebalance(spark, split_points, tmp_path):
    zone = prepare_zone("comb", [np.array(r) for r in GATE_ZONES["comb"]])
    src = str(tmp_path / "src")
    split_points.write.parquet(src)
    stream = spark.readStream.schema(split_points.schema).parquet(src)

    def plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    assert "RebalancePartitions" in plan(join_zones(split_points, [zone]))
    out = join_zones(stream, [zone], columns=["image_id"])
    assert out.isStreaming
    assert "RebalancePartitions" not in plan(out)
