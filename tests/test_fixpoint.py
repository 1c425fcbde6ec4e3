"""The shared fixpoint driver (operators/fixpoint.py): one non-convergence
policy, one driver action budget per operator call whatever the round count,
and bounded plans for the lazily unioned frontier stores."""

import warnings

import pytest

from lingvo_spark_kg.operators import canonicalize, graph
from lingvo_spark_kg.operators.fixpoint import NotConvergedWarning


@pytest.fixture(scope="module", autouse=True)
def _shrink_driver_heap(spark):
    """This module plans a few hundred rounds in the shared session, whose
    driver heap may grow past the host's free memory before the JVM collects;
    a full GC at the end lets G1 hand the churn back to the OS."""
    yield
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _chain(spark, n, pred="p"):
    return spark.createDataFrame(
        [(i, i + 1, pred, 1) for i in range(n - 1)],
        "src_id long, dst_id long, pred string, n_occurrences long")


_TRANSITIVE = [([("?x", "p", "?y"), ("?y", "p", "?z")], ("?x", "p", "?z"))]

# operator at a budget of one round on a 6-node chain → the budget's name
_BUDGETED = {
    "label_propagation": (lambda e: graph.label_propagation(e, max_iter=1),
                          "max_iter"),
    "coreness": (lambda e: graph.coreness(e, max_iter=1), "max_iter"),
    "transitive_closure": (lambda e: graph.transitive_closure(e, max_iter=1),
                           "max_iter"),
    "shortest_paths": (lambda e: graph.shortest_paths(e, [0], max_iter=1),
                       "max_iter"),
    "materialize_rules": (lambda e: graph.materialize_rules(
        e, _TRANSITIVE, max_rounds=1), "max_rounds"),
}


@pytest.mark.parametrize("op", sorted(_BUDGETED) + [
    "connected_components", "bfs_distances", "shortest_path_counts"])
def test_non_convergence_policy(spark, op):
    """Budget-bounded operators warn once, naming their budget; CC raises
    (truncated labels merge or split canonical ids); a BFS radius is the
    answer's extent, not a budget, so running to it is silent."""
    edges = _chain(spark, 6)
    if op in _BUDGETED:
        run, budget = _BUDGETED[op]
        with pytest.warns(NotConvergedWarning, match=budget) as rec:
            run(edges)
        assert sum(issubclass(w.category, NotConvergedWarning)
                   for w in rec) == 1
        return
    if op == "connected_components":
        e = edges.selectExpr("src_id AS src", "dst_id AS dst")
        with pytest.raises(RuntimeError, match="did not converge"):
            canonicalize.connected_components(e, max_iter=1)
        return
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        if op == "bfs_distances":
            out = graph.bfs_distances(edges, [0], max_hops=1)
        else:
            out = graph.shortest_path_counts(edges, [0], max_hops=1)
        assert out.count() == 2
    assert not [w for w in rec if issubclass(w.category, NotConvergedWarning)]


def _reach_distributed(spark, e):
    key = "spark.sql.autoBroadcastJoinThreshold"
    budget = spark.conf.get(key)
    spark.conf.set(key, "-1")   # over the budget: the per-hop Spark loop
    try:
        return graph.match_pattern(e, [(0, "p+", "?y")])
    finally:
        spark.conf.set(key, budget)


_CONVERTED = {
    "components": lambda s, e: graph.components(e),
    "label_propagation": lambda s, e: graph.label_propagation(e, max_iter=30),
    "coreness": lambda s, e: graph.coreness(e),
    "bfs_distances": lambda s, e: graph.bfs_distances(e, [0]),
    "shortest_path_counts": lambda s, e: graph.shortest_path_counts(e, [0]),
    "transitive_closure": lambda s, e: graph.transitive_closure(e),
    "shortest_paths": lambda s, e: graph.shortest_paths(e, [0]),
    "materialize_rules": lambda s, e: graph.materialize_rules(e, _TRANSITIVE),
    "neighborhood_function": lambda s, e: graph.neighborhood_function(
        e, max_hops=12),
    "harmonic_centrality": lambda s, e: graph.harmonic_centrality(
        e, max_hops=12),
    "reach_distributed": _reach_distributed,
}


@pytest.mark.parametrize("op", sorted(_CONVERTED))
def test_driver_actions_do_not_grow_with_rounds(spark, monkeypatch, op):
    """Every round's convergence metrics ride its materializing job, so the
    collect/count/first actions an operator call runs are the same on a
    4-chain (few rounds) and a 12-chain (many rounds)."""
    calls = []
    frame_cls = type(spark.range(1))   # the concrete class defines the actions
    for name in ("collect", "count", "first"):
        orig = getattr(frame_cls, name)

        def spy(self, *a, _orig=orig, **kw):
            calls.append(1)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(frame_cls, name, spy)
    per_size = []
    for n in (4, 12):
        edges = _chain(spark, n)
        calls.clear()
        _CONVERTED[op](spark, edges)
        per_size.append(len(calls))
    assert per_size[0] == per_size[1], per_size


def test_rule_store_union_stays_bounded(spark):
    """A linear ancestor program over a 25-node chain needs 25 rounds; the
    returned store is a lazy union compacted every 16 rounds, so its plan
    holds at most 16 round deltas plus the compacted base."""
    from pyspark.sql import functions as F

    edges = _chain(spark, 25, pred="parent")
    rules = [([("?x", "parent", "?y")], ("?x", "anc", "?y")),
             ([("?x", "parent", "?y"), ("?y", "anc", "?z")],
              ("?x", "anc", "?z"))]
    store = graph.materialize_rules(edges, rules)
    leaves = store._jdf.queryExecution().logical().collectLeaves().size()
    assert leaves <= 17, leaves
    assert store.where(F.col("pred") == "anc").count() == 24 * 25 // 2
