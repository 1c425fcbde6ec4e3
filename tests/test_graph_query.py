"""Round-6 graph-query additions: BGP pattern matching, label-propagation
communities, multi-source BFS distances — exact parity against DuckDB SQL or a
NumPy reference implementing the same recurrence, plus plan-shape pins."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _edges_df(spark, rows):
    return spark.createDataFrame(
        [(s, d, p, 1) for s, d, p in rows],
        "src_id long, dst_id long, pred string, n_occurrences long")


def test_match_pattern_chain_matches_duckdb(spark):
    """2-hop chain with a constant predicate per hop vs the same self-join in
    plain SQL, on a seeded random multi-predicate graph."""
    import random

    import duckdb

    from lingvo_spark_kg.operators.graph import match_pattern

    rng = random.Random(7)
    preds = ["wrote", "published", "cites"]
    rows = {(rng.randrange(20), rng.randrange(20), rng.choice(preds))
            for _ in range(120)}
    df = _edges_df(spark, sorted(rows))
    got = {tuple(r) for r in match_pattern(
        df, [("?a", "wrote", "?b"), ("?b", "published", "?c")]).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES %s) t(s, d, p)"
                % ",".join(f"({s},{d},'{p}')" for s, d, p in sorted(rows)))
    ref = {tuple(r) for r in con.execute("""
        SELECT x.s AS a, x.d AS b, y.d AS c
        FROM e x JOIN e y ON x.d = y.s
        WHERE x.p = 'wrote' AND y.p = 'published'
    """).fetchall()}
    assert got == ref and len(got) > 0


def test_match_pattern_variable_predicate_and_star(spark):
    """A star pattern (two patterns sharing the subject) with a predicate
    variable binds the pred string; column order is first-seen."""
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "likes"), (1, 3, "knows"),
                           (4, 2, "likes"), (4, 5, "knows"),
                           (6, 2, "likes")])
    out = match_pattern(df, [("?x", "likes", 2), ("?x", "?p", "?y")])
    assert out.columns == ["x", "p", "y"]
    got = {tuple(r) for r in out.collect()}
    assert got == {(1, "likes", 2), (1, "knows", 3),
                   (4, "likes", 2), (4, "knows", 5), (6, "likes", 2)}


def test_match_pattern_repeated_var_is_intra_row_filter(spark):
    """?x p ?x selects self-loops only."""
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 1, "self"), (1, 2, "self"), (3, 3, "self"),
                           (3, 3, "other")])
    got = {tuple(r) for r in
           match_pattern(df, [("?x", "self", "?x")]).collect()}
    assert got == {(1,), (3,)}


def test_match_pattern_reorders_for_connectivity_and_rejects_cartesian(spark):
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "a"), (2, 3, "b"), (3, 4, "c")])
    # user order ?a-?b, ?c-?d, ?b-?c is disconnected AT STEP 2 but reorderable
    got = {tuple(r) for r in match_pattern(
        df, [("?a", "a", "?b"), ("?c", "c", "?d"), ("?b", "b", "?c")]).collect()}
    assert got == {(1, 2, 3, 4)}
    with pytest.raises(ValueError, match="disconnected"):
        match_pattern(df, [("?a", "a", "?b"), ("?c", "c", "?d")])
    with pytest.raises(ValueError, match="no variables"):
        match_pattern(df, [(1, "a", 2)])
    with pytest.raises(ValueError, match="at least one"):
        match_pattern(df, [])


def test_match_pattern_distinct_and_bag_semantics(spark):
    """Duplicate edge rows duplicate bindings (bag), distinct=True collapses."""
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "p")]).unionAll(
        _edges_df(spark, [(1, 2, "p")]))
    pat = [("?x", "p", "?y")]
    assert match_pattern(df, pat).count() == 2
    assert match_pattern(df, pat, distinct=True).count() == 1


def test_match_pattern_plan_no_cartesian(spark):
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "a"), (2, 3, "b")])
    plan = match_pattern(
        df, [("?a", "a", "?b"), ("?b", "b", "?c")])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_label_propagation_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge resolve to two communities,
    each labeled by its minimum member id."""
    from lingvo_spark_kg.operators.graph import label_propagation

    clique = lambda ids: [(a, b, "p") for a in ids for b in ids if a < b]
    df = _edges_df(spark, clique([0, 1, 2, 3]) + clique([10, 11, 12, 13])
                   + [(3, 10, "p")])
    got = {r["node_id"]: r["community"] for r in label_propagation(df).collect()}
    assert {got[i] for i in (0, 1, 2, 3)} == {0}
    assert {got[i] for i in (10, 11, 12, 13)} == {10}


def test_label_propagation_matches_numpy_recurrence(spark):
    """Bit-exact parity with an independent dense implementation of the same
    deterministic update (self-vote, max count, min-label tie-break, early
    exit) on a seeded random graph."""
    import random
    from collections import Counter

    from lingvo_spark_kg.operators.graph import label_propagation

    rng = random.Random(23)
    rows = {(rng.randrange(30), rng.randrange(30), "p") for _ in range(70)}
    rows = {(s, d, p) for s, d, p in rows if s != d}
    df = _edges_df(spark, sorted(rows))
    got = {r["node_id"]: r["community"]
           for r in label_propagation(df, max_iter=10).collect()}

    adj = {}
    for s, d, _ in rows:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    labels = {v: v for v in adj}
    for _ in range(10):
        nxt = {}
        for v in adj:
            votes = Counter(labels[n] for n in adj[v])
            votes[labels[v]] += 1
            best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            nxt[v] = best
        if nxt == labels:
            break
        labels = nxt
    assert got == labels and len(got) == len(adj)


def test_bfs_distances_matches_duckdb_recursive_cte(spark):
    """Undirected multi-source hop distances vs DuckDB's recursive CTE on a
    seeded random graph; unreachable nodes absent from the output."""
    import random

    import duckdb

    from lingvo_spark_kg.operators.graph import bfs_distances

    rng = random.Random(11)
    rows = {(rng.randrange(25), rng.randrange(25), "p") for _ in range(40)}
    rows = {(s, d, p) for s, d, p in rows if s != d}
    rows |= {(100, 101, "p")}            # island unreachable from sources
    df = _edges_df(spark, sorted(rows))
    got = {(r["node_id"], r["distance"])
           for r in bfs_distances(df, sources=[0, 7]).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES %s) t(s, d)"
                % ",".join(f"({s},{d})" for s, d, _ in sorted(rows)))
    ref = {tuple(r) for r in con.execute("""
        WITH RECURSIVE adj AS (SELECT s AS node, d AS nbr FROM e WHERE s <> d
                               UNION SELECT d, s FROM e WHERE s <> d),
        walk(node, dist) AS (
            SELECT * FROM (VALUES (0, 0), (7, 0)) t(node, dist)
            UNION
            SELECT adj.nbr, walk.dist + 1 FROM walk JOIN adj USING (node)
            WHERE walk.dist < 25)
        SELECT node, MIN(dist) FROM walk GROUP BY node
    """).fetchall()}
    assert got == ref and (100, 0) not in got
    assert not any(n in (100, 101) for n, _ in got)


def test_bfs_distances_directed_and_max_hops(spark):
    from lingvo_spark_kg.operators.graph import bfs_distances

    df = _edges_df(spark, [(1, 2, "p"), (2, 3, "p"), (3, 4, "p")])
    directed = {(r["node_id"], r["distance"])
                for r in bfs_distances(df, [3], directed=True).collect()}
    assert directed == {(3, 0), (4, 1)}
    capped = {(r["node_id"], r["distance"])
              for r in bfs_distances(df, [1], max_hops=2).collect()}
    assert capped == {(1, 0), (2, 1), (3, 2)}
    with pytest.raises(ValueError, match="non-empty"):
        bfs_distances(df, [])


def test_edge_diff_statuses(spark):
    from lingvo_spark_kg.operators.graph import edge_diff

    old = spark.createDataFrame(
        [(1, "p", 2, 3), (1, "p", 3, 1), (2, "q", 3, 5)],
        "src_id long, pred string, dst_id long, n_occurrences long")
    new = spark.createDataFrame(
        [(1, "p", 2, 3), (1, "p", 3, 4), (9, "r", 1, 2)],
        "src_id long, pred string, dst_id long, n_occurrences long")
    got = {tuple(r) for r in edge_diff(old, new).collect()}
    assert got == {
        (1, "p", 2, "unchanged", 3, 3),
        (1, "p", 3, "changed", 1, 4),
        (2, "q", 3, "removed", 5, None),
        (9, "r", 1, "added", None, 2),
    }


def test_predicate_stats_matches_duckdb(spark):
    import random

    import duckdb

    from lingvo_spark_kg.operators.graph import predicate_stats

    rng = random.Random(13)
    rows = [(rng.randrange(12), rng.choice("abc"), rng.randrange(12),
             rng.randrange(1, 9)) for _ in range(60)]
    df = spark.createDataFrame(
        rows, "src_id long, pred string, dst_id long, n_occurrences long")
    got = {tuple(r) for r in predicate_stats(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE e(s BIGINT, p VARCHAR, d BIGINT, occ BIGINT)")
    con.executemany("INSERT INTO e VALUES (?,?,?,?)", rows)
    ref = {tuple(r) for r in con.execute("""
        SELECT p, COUNT(*)::BIGINT, COUNT(DISTINCT s)::BIGINT,
               COUNT(DISTINCT d)::BIGINT, CAST(SUM(occ) AS BIGINT),
               MAX(occ)::BIGINT
        FROM e GROUP BY p
    """).fetchall()}
    assert got == ref and len(got) == 3


def test_bfs_parents_shortest_path_tree(spark):
    """parents=True emits a deterministic shortest-path tree: every parent is
    a min-id neighbor one hop closer, sources have NULL parents, and following
    parents from any node reaches a source in exactly `distance` steps."""
    import random

    from lingvo_spark_kg.operators.graph import bfs_distances

    rng = random.Random(17)
    rows = {(rng.randrange(20), rng.randrange(20), "p") for _ in range(35)}
    rows = {(s, d, p) for s, d, p in rows if s != d}
    df = _edges_df(spark, sorted(rows))
    out = {r["node_id"]: (r["distance"], r["parent"])
           for r in bfs_distances(df, [0], parents=True).collect()}
    plain = {(r["node_id"], r["distance"])
             for r in bfs_distances(df, [0]).collect()}
    assert {(n, d) for n, (d, _) in out.items()} == plain
    assert out[0] == (0, None)

    adj = {}
    for s, d, _ in rows:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    for n, (d, par) in out.items():
        if d == 0:
            assert par is None
            continue
        # parent is THE min-id neighbor at distance d-1
        closer = [m for m in adj[n] if m in out and out[m][0] == d - 1]
        assert par == min(closer)
        # walking up reaches the source in d steps
        cur, steps = n, 0
        while out[cur][1] is not None:
            cur = out[cur][1]
            steps += 1
        assert cur == 0 and steps == d


def test_ego_subgraph_induced_edges(spark):
    """k-hop ego subgraph == edges whose endpoints BOTH lie in the BFS ball
    (checked against the ball from bfs_distances), all columns preserved."""
    import random

    from lingvo_spark_kg.operators.graph import bfs_distances, ego_subgraph

    rng = random.Random(29)
    rows = sorted({(rng.randrange(30), rng.randrange(30), "p")
                   for _ in range(45)})
    df = _edges_df(spark, rows)
    sub = ego_subgraph(df, [3], k=2)
    assert sub.columns == df.columns
    ball = {r["node_id"] for r in bfs_distances(df, [3], max_hops=2).collect()}
    got = {(r["src_id"], r["dst_id"]) for r in sub.collect()}
    want = {(s, d) for s, d, _ in rows if s in ball and d in ball}
    assert got == want and 0 < len(got) < len(rows)


def test_transitive_closure_matches_duckdb(spark):
    """Closure pairs + exact min hop distance vs a recursive CTE, on a seeded
    random digraph with a cycle and a pred filter."""
    import random

    import duckdb

    from lingvo_spark_kg.operators.graph import transitive_closure

    rng = random.Random(37)
    rows = sorted({(rng.randrange(18), rng.randrange(18),
                    rng.choice(["in", "other"])) for _ in range(30)}
                  | {(1, 2, "in"), (2, 3, "in"), (3, 1, "in")})  # a cycle
    df = _edges_df(spark, rows)
    got = {tuple(r) for r in transitive_closure(df, pred="in").collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES %s) t(s, d, p)"
                % ",".join(f"({s},{d},'{p}')" for s, d, p in rows))
    ref = {tuple(r) for r in con.execute("""
        WITH RECURSIVE walk(s, d, dist) AS (
            SELECT s, d, 1 FROM e WHERE p = 'in'
            UNION
            SELECT walk.s, e.d, walk.dist + 1 FROM walk
            JOIN e ON e.s = walk.d AND e.p = 'in'
            WHERE walk.dist < 20)
        SELECT s, d, CAST(MIN(dist) AS BIGINT) FROM walk GROUP BY s, d
    """).fetchall()}
    assert got == ref and len(got) > len([r for r in rows if r[2] == "in"])
    # the planted cycle closes onto itself at the cycle length
    assert (1, 1, 3) in got


def test_transitive_closure_self_loop_is_one_hop(spark):
    """p+ contains p: a (v, p, v) edge puts (v, v, 1) in the closure, so the
    transitive pattern never matches fewer pairs than the single-hop one."""
    from lingvo_spark_kg.operators.graph import match_pattern, transitive_closure

    df = _edges_df(spark, [(1, 1, "p"), (1, 2, "p")])
    got = {tuple(r) for r in transitive_closure(df, pred="p").collect()}
    assert got == {(1, 1, 1), (1, 2, 1)}
    single = {tuple(r) for r in match_pattern(df, [("?x", "p", "?x")]).collect()}
    plus = {tuple(r) for r in match_pattern(df, [("?x", "p+", "?x")]).collect()}
    assert single <= plus == {(1,)}


def test_transitive_closure_chain_log_rounds(spark):
    """A 9-node chain closes with exact distances (doubling reaches depth 8 in
    3 rounds; distances are min-hop, not doubled artifacts)."""
    from lingvo_spark_kg.operators.graph import transitive_closure

    df = _edges_df(spark, [(i, i + 1, "p") for i in range(8)])
    got = {(r["src_id"], r["dst_id"]): r["distance"]
           for r in transitive_closure(df).collect()}
    assert len(got) == 8 * 9 // 2
    assert all(got[(a, b)] == b - a for a, b in got)


def test_match_pattern_property_path_plus(spark):
    """A 'p+' predicate term matches via the transitive closure and joins
    like any pattern: everything transitively inside node 4, plus its label
    edge — vs the same recursive closure + join in DuckDB."""
    import duckdb

    from lingvo_spark_kg.operators.graph import match_pattern

    rows = [(1, 2, "in"), (2, 3, "in"), (3, 4, "in"), (9, 4, "in"),
            (5, 4, "other"), (1, 7, "tag"), (9, 8, "tag"), (2, 8, "tag")]
    df = _edges_df(spark, rows)
    got = {tuple(r) for r in match_pattern(
        df, [("?x", "in+", 4), ("?x", "tag", "?t")]).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES %s) t(s, d, p)"
                % ",".join(f"({s},{d},'{p}')" for s, d, p in rows))
    ref = {tuple(r) for r in con.execute("""
        WITH RECURSIVE c(s, d) AS (
            SELECT s, d FROM e WHERE p = 'in' AND s <> d
            UNION SELECT c.s, e.d FROM c JOIN e ON e.s = c.d AND e.p = 'in')
        SELECT c.s, t.d FROM c JOIN e t ON t.s = c.s AND t.p = 'tag'
        WHERE c.d = 4
    """).fetchall()}
    assert got == ref == {(1, 7), (9, 8), (2, 8)}


def test_pipeline_query_sugar(spark, tmp_path):
    from lingvo_spark_kg.pipeline import KgPipeline

    wd = str(tmp_path / "wd")
    p = KgPipeline(spark, wd, n_docs=30, seed=4)
    p.run(resume=True)
    pred = p.table("edges").select("pred").first()["pred"]
    out = p.query([("?s", pred, "?o")])
    assert out.columns == ["s", "o"]
    assert out.count() == p.table("edges").where(
        F.col("pred") == pred).count()


def test_new_iterative_ops_plan_no_cartesian(spark):
    """One-round plan shapes of transitive_closure / label_propagation /
    ego_subgraph: keyed joins only, never a cartesian or nested-loop."""
    from lingvo_spark_kg.operators.graph import (ego_subgraph,
                                                 label_propagation,
                                                 transitive_closure)

    df = _edges_df(spark, [(1, 2, "p"), (2, 3, "p"), (3, 4, "q")])
    for out in (transitive_closure(df, max_iter=1),
                label_propagation(df, max_iter=1),
                ego_subgraph(df, [1], k=1)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan


def test_match_pattern_inverse_path(spark):
    """^p matches against the stored direction reversed; composes with '+'
    (inverse closure); join with a forward pattern stays correct."""
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "in"), (2, 3, "in"), (7, 2, "tag")])
    # ^tag: stored 7→2, so (?x ^tag ?y) binds x=2, y=7
    got = {tuple(r) for r in match_pattern(df, [("?x", "^tag", "?y")]).collect()}
    assert got == {(2, 7)}
    # inverse closure from node 3: everything it transitively contains
    got = {tuple(r) for r in match_pattern(df, [(3, "^in+", "?x")]).collect()}
    assert got == {(1,), (2,)}
    # composed: ancestors of 1 that are tag-targets of 7
    got = {tuple(r) for r in match_pattern(
        df, [(1, "in+", "?a"), ("?a", "^tag", 7)]).collect()}
    assert got == {(2,)}


def test_shortest_paths_matches_python_bellman_ford(spark):
    """Exact weighted distances vs an independent dense Bellman-Ford on a
    seeded random weighted digraph (undirected view), plus the unweighted
    degenerate case == bfs hop counts."""
    import random

    from lingvo_spark_kg.operators.graph import bfs_distances, shortest_paths

    rng = random.Random(43)
    rows = sorted({(rng.randrange(22), rng.randrange(22)) for _ in range(45)})
    rows = [(s, d, "p", rng.randrange(1, 10)) for s, d in rows if s != d]
    df = spark.createDataFrame(
        rows, "src_id long, dst_id long, pred string, n_occurrences long")
    got = {(r["node_id"], r["cost"]) for r in
           shortest_paths(df, [0, 5], weight_col="n_occurrences").collect()}

    import math
    dist = {0: 0, 5: 0}
    adj = {}
    for s, d, _, w in rows:
        adj.setdefault(s, []).append((d, w))
        adj.setdefault(d, []).append((s, w))
    for _ in range(len(adj)):
        improved = False
        for v in list(dist):
            for n, w in adj.get(v, []):
                c = dist[v] + w
                if c < dist.get(n, math.inf):
                    dist[n] = c
                    improved = True
        if not improved:
            break
    assert got == set(dist.items()) and len(got) > 2

    hops = {(r["node_id"], r["distance"]) for r in
            bfs_distances(df, [0, 5]).collect()}
    unw = {(r["node_id"], r["cost"]) for r in
           shortest_paths(df, [0, 5]).collect()}
    assert unw == hops


def test_community_stats_matches_duckdb(spark):
    """Exact integer community summaries (intra / boundary / degree sums) vs
    the same classification in SQL, on LPA's own output over a seeded graph;
    sanity: Σ intra + Σ boundary/2 == m, Σ degree_sum == 2m."""
    import random

    import duckdb

    from lingvo_spark_kg.operators.graph import community_stats, label_propagation

    rng = random.Random(47)
    rows = sorted({(rng.randrange(20), rng.randrange(20), "p")
                   for _ in range(50)})
    rows = [r for r in rows if r[0] != r[1]]
    df = _edges_df(spark, rows)
    comm = label_propagation(df, max_iter=5)
    got = {tuple(r) for r in community_stats(df, comm).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES %s) t(s, d)"
                % ",".join(f"({s},{d})" for s, d, _ in rows))
    con.execute("CREATE TABLE c(n BIGINT, com BIGINT)")
    con.executemany("INSERT INTO c VALUES (?,?)",
                    [(r["node_id"], r["community"]) for r in comm.collect()])
    ref = {tuple(r) for r in con.execute("""
        WITH und AS (SELECT DISTINCT LEAST(s,d) u, GREATEST(s,d) v FROM e
                     WHERE s <> d),
        tg AS (SELECT cu.com cu, cv.com cv FROM und
               JOIN c cu ON cu.n = und.u JOIN c cv ON cv.n = und.v),
        intra AS (SELECT cu com, COUNT(*)::BIGINT n FROM tg WHERE cu = cv
                  GROUP BY 1),
        bnd AS (SELECT com, COUNT(*)::BIGINT n FROM (
                  SELECT cu com FROM tg WHERE cu <> cv
                  UNION ALL SELECT cv FROM tg WHERE cu <> cv) GROUP BY 1),
        deg AS (SELECT node, COUNT(*)::BIGINT dg FROM (
                  SELECT u node FROM und UNION ALL SELECT v FROM und)
                GROUP BY 1),
        mem AS (SELECT com, COUNT(*)::BIGINT n_nodes,
                       COALESCE(SUM(dg), 0)::BIGINT degree_sum
                FROM c LEFT JOIN deg ON deg.node = c.n GROUP BY 1)
        SELECT mem.com, mem.n_nodes, COALESCE(intra.n, 0), COALESCE(bnd.n, 0),
               mem.degree_sum
        FROM mem LEFT JOIN intra ON intra.com = mem.com
        LEFT JOIN bnd ON bnd.com = mem.com
    """).fetchall()}
    assert got == ref and len(got) > 1
    m = len({(min(s, d), max(s, d)) for s, d, _ in rows})
    intra_sum = sum(r[2] for r in got)
    bnd_sum = sum(r[3] for r in got)
    assert intra_sum + bnd_sum // 2 == m
    assert sum(r[4] for r in got) == 2 * m


def test_match_pattern_optional_left_join(spark):
    """OPTIONAL groups left-join on shared variables: unmatched solutions
    survive with NULLs, matched ones bind — vs the same LEFT JOIN in DuckDB;
    sequential groups see earlier optional bindings."""
    import duckdb

    from lingvo_spark_kg.operators.graph import match_pattern

    rows = [(1, 2, "likes"), (4, 2, "likes"), (6, 2, "likes"),
            (1, 3, "knows"), (4, 5, "knows"),
            (3, 9, "tag")]
    df = _edges_df(spark, rows)
    out = match_pattern(df, [("?x", "likes", 2)],
                        optional=[[("?x", "knows", "?y")],
                                  [("?y", "tag", "?t")]])
    assert out.columns == ["x", "y", "t"]
    got = {tuple(r) for r in out.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES %s) t(s, d, p)"
                % ",".join(f"({s},{d},'{p}')" for s, d, p in rows))
    ref = {tuple(r) for r in con.execute("""
        SELECT l.s AS x, k.d AS y, t.d AS t
        FROM e l
        LEFT JOIN e k ON k.s = l.s AND k.p = 'knows'
        LEFT JOIN e t ON t.s = k.d AND t.p = 'tag'
        WHERE l.p = 'likes' AND l.d = 2
    """).fetchall()}
    assert got == ref == {(1, 3, 9), (4, 5, None), (6, None, None)}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="share"):
        match_pattern(df, [("?x", "likes", 2)],
                      optional=[[("?a", "knows", "?b")]])
    with _pytest.raises(ValueError, match="empty"):
        match_pattern(df, [("?x", "likes", 2)], optional=[[]])


def test_construct_edges_rule_materialization(spark):
    """Rule body → inferred edges with support counts, vs the same join+count
    in DuckDB; error paths for unbound/variable heads."""
    import duckdb

    from lingvo_spark_kg.operators.graph import construct_edges

    rows = [(1, 10, "works_at"), (2, 10, "works_at"), (3, 11, "works_at"),
            (10, 100, "located_in"), (11, 100, "located_in"),
            (10, 200, "located_in"), (5, 6, "other")]
    df = _edges_df(spark, rows)
    got = {tuple(r) for r in construct_edges(
        df, [("?p", "works_at", "?org"), ("?org", "located_in", "?c")],
        ("?p", "works_in", "?c")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES %s) t(s, d, p)"
                % ",".join(f"({s},{d},'{p}')" for s, d, p in rows))
    ref = {tuple(r) for r in con.execute("""
        SELECT w.s, 'works_in', l.d, COUNT(*)::BIGINT
        FROM e w JOIN e l ON l.s = w.d
        WHERE w.p = 'works_at' AND l.p = 'located_in'
        GROUP BY 1, 3
    """).fetchall()}
    assert got == ref
    assert (1, "works_in", 100, 1) in got and (1, "works_in", 200, 1) in got

    with pytest.raises(ValueError, match="not bound"):
        construct_edges(df, [("?p", "works_at", "?org")],
                        ("?p", "x", "?nope"))
    with pytest.raises(ValueError, match="must be a constant"):
        construct_edges(df, [("?p", "?q", "?o")], ("?p", "?q", "?o"))
    with pytest.raises(ValueError, match="property path"):
        construct_edges(df, [("?p", "works_at", "?o")], ("?p", "x+", "?o"))
    with pytest.raises(ValueError, match="at least one head"):
        construct_edges(df, [("?p", "works_at", "?o")], [])

    # a CONSTANT head endpoint is the spec's type-tagging template; a
    # multi-triple head shares ONE body match across templates
    got = {tuple(r) for r in construct_edges(
        df, [("?p", "works_at", "?o")],
        [(1, "x", "?o"), ("?p", "employed", "?o")]).collect()}
    assert got == {(1, "x", 10, 2), (1, "x", 11, 1),
                   (1, "employed", 10, 1), (2, "employed", 10, 1),
                   (3, "employed", 11, 1)}


def test_match_pattern_pushes_pred_filter_to_parquet_scan(spark, tmp_path):
    """The claim in the docstring is load-bearing at 100 TB: a constant
    predicate must prune at the parquet reader, not post-scan. Pin
    PushedFilters on a real parquet-backed edges table."""
    from lingvo_spark_kg.operators.graph import match_pattern

    path = str(tmp_path / "edges.parquet")
    _edges_df(spark, [(1, 2, "a"), (2, 3, "b")]).write.parquet(path)
    edges = spark.read.parquet(path)
    plan = match_pattern(
        edges, [("?x", "a", "?y"), ("?y", "b", "?z")])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters" in plan
    assert "EqualTo(pred,a)" in plan and "EqualTo(pred,b)" in plan


def test_construct_edges_skips_unbound_optional_heads(spark):
    """SPARQL CONSTRUCT: solutions whose head variable is unbound (optional
    group unmatched) produce NO triple — never a NULL-endpoint edge."""
    from lingvo_spark_kg.operators.graph import construct_edges

    df = _edges_df(spark, [(1, 2, "a"), (3, 4, "a"), (2, 9, "b")])
    out = construct_edges(df, [("?x", "a", "?y")],
                          ("?x", "inferred", "?z"),
                          optional=[[("?y", "b", "?z")]])
    got = {tuple(r) for r in out.collect()}
    assert got == {(1, "inferred", 9, 1)}   # (3,4) has no b-edge → no triple


def test_match_pattern_optional_groups_are_validated(spark):
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "a")])
    with pytest.raises(ValueError, match="not a .subj, pred, obj."):
        match_pattern(df, [("?x", "a", "?y")], optional=[[("?x", "b")]])
    with pytest.raises(ValueError, match="no variables"):
        match_pattern(df, [("?x", "a", "?y")], optional=[[(1, "b", 2)]])


def test_community_stats_partial_assignment_consistent(spark):
    """A partial assignment is scored on the induced subgraph: the modularity
    identities hold with m = induced edge count."""
    from lingvo_spark_kg.operators.graph import community_stats

    df = _edges_df(spark, [(1, 2, "p"), (2, 3, "p"), (3, 99, "p"),
                           (99, 98, "p")])
    comm = spark.createDataFrame([(1, 1), (2, 1), (3, 3)],
                                 "node_id long, community long")
    got = {r["community"]: r for r in community_stats(df, comm).collect()}
    # induced edges: (1,2) intra, (2,3) boundary; (3,99)/(99,98) excluded
    assert got[1]["n_intra_edges"] == 1 and got[1]["n_boundary_edges"] == 1
    assert got[3]["n_boundary_edges"] == 1 and got[3]["n_intra_edges"] == 0
    m = 2
    assert sum(r["n_intra_edges"] for r in got.values()) \
        + sum(r["n_boundary_edges"] for r in got.values()) // 2 == m
    assert sum(r["degree_sum"] for r in got.values()) == 2 * m


def test_harmonic_centrality_bounded_vs_exact_bfs(spark):
    """HLL-estimated harmonic centrality within 5% of the exact per-node
    H(v) = sum 1/d(v,u) on a seeded random graph with an island (unreachable
    nodes contribute 0), and the ranking puts a star hub first."""
    import random

    from lingvo_spark_kg.operators.graph import harmonic_centrality

    rng = random.Random(53)
    rows = sorted({(rng.randrange(24), rng.randrange(24), "p")
                   for _ in range(45)} | {(100, 101, "p")})
    rows = [r for r in rows if r[0] != r[1]]
    df = _edges_df(spark, rows)
    got = {r["node_id"]: r["centrality"]
           for r in harmonic_centrality(df, max_hops=12).collect()}

    adj = {}
    for s, d, _ in rows:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    from collections import deque
    for v in adj:
        dist = {v: 0}
        q = deque([v])
        while q:
            x = q.popleft()
            for n in adj[x]:
                if n not in dist:
                    dist[n] = dist[x] + 1
                    q.append(n)
        exact = sum(1.0 / d for u, d in dist.items() if d > 0)
        assert abs(got[v] - exact) <= 0.05 * max(exact, 1.0), (v, got[v], exact)

    star = _edges_df(spark, [(0, i, "p") for i in range(1, 9)])
    sc = {r["node_id"]: r["centrality"]
          for r in harmonic_centrality(star, max_hops=4).collect()}
    assert max(sc, key=sc.get) == 0


def test_label_propagation_weighted_matches_reference(spark):
    """weighted=True: integer-weight voting parity with an independent dense
    implementation (weights summed per undirected pair, self-vote weight 1),
    and a known case where one heavy edge outvotes two light ones."""
    import random
    from collections import Counter

    from lingvo_spark_kg.operators.graph import label_propagation

    rng = random.Random(59)
    raw = [(rng.randrange(20), rng.randrange(20), "p", rng.randrange(1, 8))
           for _ in range(50)]
    raw = [r for r in raw if r[0] != r[1]]
    df = spark.createDataFrame(
        raw, "src_id long, dst_id long, pred string, n_occurrences long")
    got = {r["node_id"]: r["community"] for r in
           label_propagation(df, max_iter=8, weighted=True).collect()}

    wsum = Counter()
    for s, d, _, w in raw:
        wsum[(min(s, d), max(s, d))] += w
    adj = {}
    for (u, v), w in wsum.items():
        adj.setdefault(u, {})[v] = w
        adj.setdefault(v, {})[u] = w
    labels = {v: v for v in adj}
    for _ in range(8):
        nxt = {}
        for v in adj:
            votes = Counter()
            for n, w in adj[v].items():
                votes[labels[n]] += w
            votes[labels[v]] += 1
            nxt[v] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if nxt == labels:
            break
        labels = nxt
    assert got == labels and len(got) == len(adj)

    # node 5 bridges two heavy triangles; its heavier bridge decides which
    # community claims it — flip the bridge weights, the outcome flips
    def tri_case(w_left, w_right):
        known = spark.createDataFrame(
            [(0, 1, "p", 9), (0, 2, "p", 9), (1, 2, "p", 9),
             (10, 11, "p", 9), (10, 12, "p", 9), (11, 12, "p", 9),
             (5, 0, "p", w_left), (5, 10, "p", w_right)],
            "src_id long, dst_id long, pred string, n_occurrences long")
        return {r["node_id"]: r["community"] for r in
                label_propagation(known, max_iter=8, weighted=True).collect()}

    k = tri_case(9, 1)
    assert k[5] == k[0] == 0 and k[10] == 10
    k = tri_case(1, 9)
    assert k[5] == k[10] == 10 and k[0] == 0


def test_betweenness_exact_mode_matches_dense_brandes(spark):
    """With n_pivots ≥ n the sampled estimator is EXACT (scale 1): compare
    against an independent dense Brandes (BFS + dependency accumulation in
    plain Python) on a random graph, at float tolerance."""
    import random
    from collections import deque

    from lingvo_spark_kg.operators.graph import betweenness_centrality

    rng = random.Random(61)
    n_nodes = 30
    pairs = sorted({(rng.randrange(n_nodes), rng.randrange(n_nodes))
                    for _ in range(70)})
    pairs = [(u, v) for u, v in pairs if u != v]
    df = _edges_df(spark, [(u, v, "w") for u, v in pairs])

    adj = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    nodes = sorted(adj)
    bc = {v: 0.0 for v in nodes}
    for s in nodes:                       # dense Brandes, every source
        dist, sigma, order = {s: 0}, {s: 1.0}, [s]
        q = deque([s])
        while q:
            v = q.popleft()
            for w in sorted(adj[v]):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    sigma[w] = 0.0
                    q.append(w)
                    order.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = {v: 0.0 for v in order}
        for v in reversed(order):
            for w in adj[v]:
                if dist.get(w) == dist[v] + 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if v != s:
                bc[v] += delta[v]

    got = {r["node_id"]: r["centrality"] for r in betweenness_centrality(
        df, n_pivots=n_nodes + 5, max_hops=30).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v] == pytest.approx(bc[v], rel=1e-9, abs=1e-9), v


def test_betweenness_sampled_and_shapes(spark):
    """Sampling sanity on a barbell (two cliques + one bridge): the bridge
    endpoints dominate every other node at ANY pivot subset that touches
    both sides; the plan stays cartesian-free; pivot choice is
    deterministic (two runs identical)."""
    from lingvo_spark_kg.operators.graph import betweenness_centrality

    k = 6
    rows = [(u, v, "w") for u in range(k) for v in range(u + 1, k)]
    rows += [(u, v, "w") for u in range(10, 10 + k)
             for v in range(u + 1, 10 + k)]
    rows += [(0, 10, "bridge")]
    df = _edges_df(spark, rows)
    out = betweenness_centrality(df, n_pivots=8, max_hops=10)
    got = {r["node_id"]: r["centrality"] for r in out.collect()}
    others = [got[v] for v in got if v not in (0, 10)]
    assert got[0] > max(others) and got[10] > max(others)
    got2 = {r["node_id"]: r["centrality"] for r in betweenness_centrality(
        df, n_pivots=8, max_hops=10).collect()}
    assert got == got2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    with pytest.raises(ValueError, match="n_pivots"):
        betweenness_centrality(df, n_pivots=0)


def test_materialize_rules_transitivity_is_closure(spark):
    """The transitivity program {(?x p ?y),(?y p ?z) → (?x p ?z)} saturates
    to exactly base ∪ transitive_closure pairs; include_base=False returns
    the inferred delta only."""
    import random

    from lingvo_spark_kg.operators.graph import (materialize_rules,
                                                 transitive_closure)

    rng = random.Random(67)
    rows = sorted({(rng.randrange(18), rng.randrange(18), "p")
                   for _ in range(30)} | {(1, 2, "q")})
    df = _edges_df(spark, rows)
    rule = ([("?x", "p", "?y"), ("?y", "p", "?z")], ("?x", "p", "?z"))
    got = {tuple(r) for r in materialize_rules(df, [rule]).collect()}
    clo = {(r["src_id"], "p", r["dst_id"])
           for r in transitive_closure(df, pred="p").collect()}
    base = {(s, p, d) for s, d, p in rows}
    assert got == base | clo
    inf = {tuple(r) for r in
           materialize_rules(df, [rule], include_base=False).collect()}
    assert inf == (base | clo) - base and len(inf) > 0


def test_materialize_rules_mutual_recursion_matches_duckdb(spark):
    """Two mutually feeding rules — p-transitivity PLUS q-extension through
    (inferred) p edges — saturate to the same set as the linear recursive
    CTE (extend-by-base-p), which is the textbook equivalence the semi-naive
    engine must reproduce."""
    import random

    import duckdb

    from lingvo_spark_kg.operators.graph import materialize_rules

    rng = random.Random(71)
    rows = sorted({(rng.randrange(16), rng.randrange(16),
                    rng.choice(["p", "q", "zz"])) for _ in range(60)})
    df = _edges_df(spark, rows)
    rules = [
        ([("?x", "p", "?y"), ("?y", "p", "?z")], ("?x", "p", "?z")),
        ([("?x", "q", "?y"), ("?y", "p", "?z")], ("?x", "q", "?z")),
    ]
    got = sorted(tuple(r) for r in materialize_rules(df, rules)
                 .where(F.col("pred").isin(["p", "q"])).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES %s) t(s, d, p)"
                % ",".join(f"({s},{d},'{p}')" for s, d, p in rows))
    ref = sorted((s, t, d) for s, t, d in con.execute("""
        WITH RECURSIVE inf(tag, s, d) AS (
            SELECT p, s, d FROM e WHERE p IN ('p', 'q')
            UNION
            SELECT i.tag, i.s, g.d FROM inf i
            JOIN e g ON g.s = i.d AND g.p = 'p')
        SELECT s, tag, d FROM inf""").fetchall())
    assert got == ref and len(got) > 0


def test_materialize_rules_rdfs_typing_and_contracts(spark):
    """RDFS-style program: subClassOf transitivity + type inheritance —
    every instance carries every superclass type; plus the error contracts
    and the max_rounds truncation warning."""
    from lingvo_spark_kg.operators.graph import materialize_rules

    df = _edges_df(spark, [
        (100, 1, "type"), (101, 2, "type"),
        (1, 2, "sub"), (2, 3, "sub"), (3, 4, "sub")])
    rules = [
        ([("?a", "sub", "?b"), ("?b", "sub", "?c")], ("?a", "sub", "?c")),
        ([("?x", "type", "?c"), ("?c", "sub", "?d")], ("?x", "type", "?d")),
    ]
    got = {tuple(r) for r in materialize_rules(df, rules, include_base=False)
           .where(F.col("pred") == "type").collect()}
    assert got == {(100, "type", c) for c in (2, 3, 4)} \
        | {(101, "type", c) for c in (3, 4)}

    with pytest.raises(ValueError, match="property paths"):
        materialize_rules(df, [([("?a", "sub+", "?b")], ("?a", "x", "?b"))])
    with pytest.raises(ValueError, match="not bound"):
        materialize_rules(df, [([("?a", "sub", "?b")], ("?a", "x", "?zz"))])
    with pytest.raises(ValueError, match="plain constant"):
        materialize_rules(df, [([("?a", "sub", "?b")], ("?a", "?p", "?b"))])
    with pytest.raises(ValueError, match="no variables"):
        materialize_rules(df, [([(1, "sub", 2)], ("?a", "x", "?b"))])
    with pytest.raises(ValueError, match="disconnected"):
        materialize_rules(
            df, [([("?a", "sub", "?b"), ("?c", "type", "?d")],
                  ("?a", "x", "?d"))])
    with pytest.warns(UserWarning, match="max_rounds"):
        chain = _edges_df(spark, [(i, i + 1, "p") for i in range(6)])
        materialize_rules(
            chain, [([("?x", "p", "?y"), ("?y", "p", "?z")],
                     ("?x", "p", "?z"))], max_rounds=1).count()


def test_shortest_path_counts_directed_hand_dag(spark):
    """Directed σ-BFS on a diamond DAG: path counts multiply through the
    merge (σ(4)=2 via 2 and 3, σ(5)=2 beyond it); frame-valued sources and
    list sources agree; the one-column-frame contract is enforced."""
    from lingvo_spark_kg.operators.graph import shortest_path_counts

    df = _edges_df(spark, [(1, 2, "p"), (1, 3, "p"), (2, 4, "p"),
                           (3, 4, "p"), (4, 5, "p"), (5, 1, "q")])
    got = {(r["node_id"], r["distance"], int(r["n_paths"]))
           for r in shortest_path_counts(df, [1], directed=True).collect()}
    assert got == {(1, 0, 1), (2, 1, 1), (3, 1, 1), (4, 2, 2), (5, 3, 2)}
    frame = spark.createDataFrame([(1,)], "n long")
    got2 = {(r["node_id"], r["distance"], int(r["n_paths"]))
            for r in shortest_path_counts(df, frame,
                                          directed=True).collect()}
    assert got2 == got
    with pytest.raises(ValueError, match="one column"):
        shortest_path_counts(df, df.select("src_id", "dst_id"))
    with pytest.raises(ValueError, match="non-empty"):
        shortest_path_counts(df, [])


def test_match_pattern_columns_first_seen_under_every_operator(spark):
    """The compiler tracks the solutions' column order in Python and projects
    only when it differs from first-seen; joins move their keys first, so
    every operator that joins must leave the documented order."""
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "p"), (2, 3, "q"), (3, 4, "p"),
                           (2, 5, "q"), (5, 6, "r"), (1, 3, "p")])
    sub = spark.createDataFrame([(3, 7)], "c long, n long")
    one = spark.createDataFrame([(9,)], "k long")
    chain = [("?a", "p", "?b"), ("?b", "q", "?c")]
    cases = [
        (dict(patterns=chain), ["a", "b", "c"]),
        (dict(patterns=[("?x", "p", "?y"), ("?z", "q", "?y")]),
         ["x", "y", "z"]),
        (dict(patterns=[("?a", "p", "?b")],
              optional=[[("?b", "q", "?c"), ("?c", "r", "?d")]]),
         ["a", "b", "c", "d"]),
        (dict(patterns=[("?a", "p", "?b")], union=[[("?c", "q", "?a")]]),
         ["a", "b", "c"]),
        (dict(patterns=chain, minus=[[("?c", "r", "?z")]]), ["a", "b", "c"]),
        (dict(patterns=chain, exists=[[("?c", "r", "?z")]]), ["a", "b", "c"]),
        (dict(patterns=chain, not_exists=[[("?c", "p", "?z")]]),
         ["a", "b", "c"]),
        (dict(patterns=chain, values=(("c",), [(3,), (5,)])),
         ["a", "b", "c"]),
        (dict(patterns=chain, values={"b": [2]}), ["a", "b", "c"]),
        (dict(patterns=chain, sub=[sub]), ["a", "b", "c", "n"]),
        (dict(patterns=chain, sub=[one]), ["a", "b", "c", "k"]),
        (dict(patterns=chain, bind={"s": "a + c"}), ["a", "b", "c", "s"]),
        (dict(patterns=[(1, "p+", "?x"), ("?x", "q", "?y")]), ["x", "y"]),
        (dict(patterns=[("?y", "q", "?x"), (1, "p*", "?x")]), ["y", "x"]),
        (dict(patterns=chain, select=["c", "a"]), ["c", "a"]),
        (dict(patterns=chain, select=["a", "b", "c"]), ["a", "b", "c"]),
    ]
    for kw, want in cases:
        out = match_pattern(df, **kw)
        assert out.columns == want, kw
        assert len(out.collect()) > 0, kw
