"""operators/graph.fixpoint, the loop under all six iterative graph
operators: per-round state is released (persistent-RDD growth does not
scale with rounds), round jobs carry "<operator> round <k>" descriptions,
and the caller's job description and job group survive the loop."""

from __future__ import annotations

import pytest
from test_queries_oracle import SF_DIR

import ssidentity_spark.plans  # noqa: F401  (populates REGISTRY)
from ssidentity_spark.operators.graph import (
    connected_components,
    connected_components_star,
    label_propagation,
    pagerank,
)
from ssidentity_spark.plans import graph as graph_plans
from ssidentity_spark.registry import REGISTRY


def _path(spark, n):
    return spark.createDataFrame(
        [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(n)],
        "mac_a string, mac_b string",
    )


def _weighted(spark):
    return spark.createDataFrame(
        [(1, 2, 2), (2, 3, 1), (3, 1, 1), (1, 3, 1), (3, 4, 3), (5, 6, 1)],
        "src long, dst long, w long",
    )


def _growth(spark, run) -> int:
    """Persistent RDDs created by ``run`` that are still registered after
    its result is collected (ids, so cleanups of earlier tests' RDDs do
    not count)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    before = set(rdds.keySet())
    df = run()
    df.collect()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    return len(after - before)


LOOPS = {
    # loops that stop at a fixpoint: two graph diameters
    "connected_components": lambda spark, n: connected_components(
        _path(spark, 2 * n)
    ),
    "connected_components_star": lambda spark, n: connected_components_star(
        _path(spark, 4**n)
    ),
    # fixed round budgets
    "label_propagation": lambda spark, n: label_propagation(
        _weighted(spark), iters=n
    ),
    "pagerank": lambda spark, n: pagerank(
        _weighted(spark).selectExpr("src", "dst", "CAST(w AS DOUBLE) AS w"),
        iters=n,
    ),
}


@pytest.mark.parametrize("loop", sorted(LOOPS))
def test_operator_state_does_not_grow_with_rounds(spark, loop):
    small = _growth(spark, lambda: LOOPS[loop](spark, 1))
    big = _growth(spark, lambda: LOOPS[loop](spark, 3))
    assert small == big <= 2, (loop, small, big)


@pytest.mark.parametrize(
    "name,budget", [("graph_kcore", "_KCORE_ROUNDS"), ("graph_bfs_hops", "_BFS_ROUNDS")]
)
def test_query_state_does_not_grow_with_rounds(spark, monkeypatch, name, budget):
    fn = REGISTRY[name].fn
    growth = []
    for rounds in (1, 3):
        monkeypatch.setattr(graph_plans, budget, rounds)
        growth.append(_growth(spark, lambda: fn(spark, SF_DIR)))
    assert growth[0] == growth[1] <= 1, (name, growth)


def test_rounds_are_named_and_the_callers_job_properties_survive(spark):
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = "fixpoint-job-names"
    sc.setJobGroup(group, "outer")
    try:
        stats: dict = {}
        connected_components(_path(spark, 4), stats=stats).collect()
        assert sc.getLocalProperty("spark.job.description") == "outer"
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        jsc.listenerBus().waitUntilEmpty()
        descs = set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            d = jsc.statusStore().job(jid).description()
            if d.isDefined():
                descs.add(d.get())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    rounds = {
        f"connected_components round {k}"
        for k in range(1, stats["iterations"] + 1)
    }
    assert stats["converged"] and rounds <= descs
    assert descs - rounds == {"outer"}
