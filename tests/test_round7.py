"""Round-7 query-layer additions: SPARQL property paths p* / p? / p|q / p/q,
FILTER, selectivity-aware BGP join ordering, and per-call closure caching —
exact parity against DuckDB SQL lowering the same algebra."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _edges_df(spark, rows):
    return spark.createDataFrame(
        [(s, d, p, 1) for s, d, p in rows],
        "src_id long, dst_id long, pred string, n_occurrences long")


def _duck(rows):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES %s) t(s, d, p)"
                % ",".join(f"({s},{d},'{p}')" for s, d, p in rows))
    return con


def test_match_pattern_star_matches_duckdb(spark):
    """p* = closure ∪ identity over graph nodes (+ the pattern's constants):
    the zero-or-more hierarchy read (p+ deliberately excludes the reflexive
    pairs) — vs the same recursive CTE ∪ identity in DuckDB."""
    import random

    from lingvo_spark_kg.operators.graph import match_pattern

    rng = random.Random(61)
    rows = sorted({(rng.randrange(15), rng.randrange(15),
                    rng.choice(["in", "other"])) for _ in range(25)})
    df = _edges_df(spark, rows)
    got = {tuple(r) for r in match_pattern(df, [("?x", "in*", 4)]).collect()}

    ref = {tuple(r) for r in _duck(rows).execute("""
        WITH RECURSIVE c(s, d) AS (
            SELECT s, d FROM e WHERE p = 'in'
            UNION SELECT c.s, e.d FROM c JOIN e ON e.s = c.d AND e.p = 'in'),
        nodes AS (SELECT s AS n FROM e UNION SELECT d FROM e),
        star AS (SELECT s, d FROM c UNION SELECT n, n FROM nodes
                 UNION SELECT 4, 4)
        SELECT s FROM star WHERE d = 4
    """).fetchall()}
    assert got == ref
    assert (4,) in got                      # the reflexive pair p+ excludes
    plus = {tuple(r) for r in match_pattern(df, [("?x", "in+", 4)]).collect()}
    assert plus <= got


def test_match_pattern_star_constant_outside_graph(spark):
    """SPARQL zero-length semantics: a constant endpoint matches itself under
    * even when it has no edges at all."""
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "p")])
    got = {tuple(r) for r in match_pattern(df, [(99, "p*", "?x")]).collect()}
    assert got == {(99,)}


def test_match_pattern_zero_or_one(spark):
    """p? = distinct(single hop ∪ identity); duplicate edge rows do NOT
    duplicate solutions (ZeroOrOnePath is set-semantics in the spec, unlike
    a plain predicate pattern)."""
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "p"), (2, 3, "q")])
    dup = df.unionAll(df)
    got = {tuple(r) for r in match_pattern(dup, [("?x", "p?", "?y")]).collect()}
    assert got == {(1, 2), (1, 1), (2, 2), (3, 3)}
    n = match_pattern(dup, [("?x", "p?", "?y")]).count()
    assert n == 4                           # distinct, not 5 (dup (1,2) rows)
    # plain pattern on the same frame stays bag: 2 rows
    assert match_pattern(dup, [("?x", "p", "?y")]).count() == 2


def test_match_pattern_alternation_and_sequence_match_duckdb(spark):
    """p|q is bag union, p/q is the fresh-variable rewrite (bag, multiplicity
    = number of mids) — vs UNION ALL and a mid-keyed join in DuckDB."""
    import random

    from lingvo_spark_kg.operators.graph import match_pattern

    rng = random.Random(67)
    rows = sorted({(rng.randrange(12), rng.randrange(12),
                    rng.choice(["a", "b", "c"])) for _ in range(40)})
    df = _edges_df(spark, rows)
    con = _duck(rows)

    got = sorted(tuple(r) for r in
                 match_pattern(df, [("?x", "a|b", "?y")]).collect())
    ref = sorted(tuple(r) for r in con.execute("""
        SELECT s, d FROM e WHERE p = 'a'
        UNION ALL SELECT s, d FROM e WHERE p = 'b'
    """).fetchall())
    assert got == ref and len(got) > 0

    got = sorted(tuple(r) for r in
                 match_pattern(df, [("?x", "a/b", "?y")]).collect())
    ref = sorted(tuple(r) for r in con.execute("""
        SELECT x.s, y.d FROM e x JOIN e y ON y.s = x.d
        WHERE x.p = 'a' AND y.p = 'b'
    """).fetchall())
    assert got == ref and len(got) > 0


def test_match_pattern_composed_path_modifiers(spark):
    """^a/b+ : inverse step into a closure step, one path term — vs the same
    composition in DuckDB (inverse scan joined into a recursive closure)."""
    import random

    from lingvo_spark_kg.operators.graph import match_pattern

    rng = random.Random(71)
    rows = sorted({(rng.randrange(10), rng.randrange(10),
                    rng.choice(["a", "b"])) for _ in range(30)})
    df = _edges_df(spark, rows)
    got = sorted(tuple(r) for r in
                 match_pattern(df, [("?x", "^a/b+", "?y")]).collect())
    ref = sorted(tuple(r) for r in _duck(rows).execute("""
        WITH RECURSIVE c(s, d) AS (
            SELECT s, d FROM e WHERE p = 'b'
            UNION SELECT c.s, e.d FROM c JOIN e ON e.s = c.d AND e.p = 'b')
        SELECT x.d, c.d FROM e x JOIN c ON c.s = x.s WHERE x.p = 'a'
    """).fetchall())
    assert got == ref and len(got) > 0


def test_match_pattern_alternation_beats_two_queries(spark):
    """a|b in one term joins like any pattern — parity with the union of two
    separate single-pred queries."""
    from lingvo_spark_kg.operators.graph import match_pattern

    rows = [(1, 2, "a"), (3, 2, "b"), (5, 2, "c"), (1, 9, "tag"), (3, 8, "tag")]
    df = _edges_df(spark, rows)
    got = {tuple(r) for r in match_pattern(
        df, [("?x", "a|b", 2), ("?x", "tag", "?t")]).collect()}
    assert got == {(1, 9), (3, 8)}


def test_match_pattern_malformed_paths_raise(spark):
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "p")])
    for bad in ("a||b", "a/", "/a", "^+", "a**", "a|", "^", "a/^"):
        with pytest.raises(ValueError, match="malformed property-path"):
            match_pattern(df, [("?x", bad, "?y")])


def test_match_pattern_filter_matches_duckdb(spark):
    """FILTER as SQL string / Column / list; applied after OPTIONAL resolves
    (SPARQL Filter-over-LeftJoin placement) — vs WHERE in DuckDB."""
    import random

    from lingvo_spark_kg.operators.graph import match_pattern

    rng = random.Random(73)
    rows = sorted({(rng.randrange(14), rng.randrange(14),
                    rng.choice(["w", "t"])) for _ in range(35)})
    df = _edges_df(spark, rows)
    con = _duck(rows)

    got = {tuple(r) for r in match_pattern(
        df, [("?x", "w", "?y")], filter="x < y").collect()}
    ref = {tuple(r) for r in con.execute(
        "SELECT s, d FROM e WHERE p = 'w' AND s < d").fetchall()}
    assert got == ref and 0 < len(got)

    got_col = {tuple(r) for r in match_pattern(
        df, [("?x", "w", "?y")], filter=F.col("x") < F.col("y")).collect()}
    assert got_col == got
    got_list = {tuple(r) for r in match_pattern(
        df, [("?x", "w", "?y")], filter=["x < y", F.col("x") >= F.lit(0)])
        .collect()}
    assert got_list == got

    # over an OPTIONAL binding: unbound (NULL) rows drop unless NULL-aware
    got = {tuple(r) for r in match_pattern(
        df, [("?x", "w", "?y")], optional=[[("?y", "t", "?z")]],
        filter="z IS NULL OR z <> x").collect()}
    ref = {tuple(r) for r in con.execute("""
        SELECT w.s, w.d, t.d FROM e w LEFT JOIN e t
        ON t.s = w.d AND t.p = 't' WHERE w.p = 'w'
          AND (t.d IS NULL OR t.d <> w.s)
    """).fetchall()}
    assert got == ref

    with pytest.raises(ValueError, match="empty list"):
        match_pattern(df, [("?x", "w", "?y")], filter=[])


def test_closure_computed_once_per_predicate_per_call(spark, monkeypatch):
    """Both-variable p+ / p* terms over the SAME predicate in one query share
    one transitive_closure doubling loop; distinct predicates get their own.
    Constant-endpoint closures never enter the doubling loop at all — they
    run the r8 frontier-reachability path (reach_pairs)."""
    from lingvo_spark_kg.operators import graph

    df = _edges_df(spark, [(1, 2, "in"), (2, 3, "in"), (1, 9, "of"),
                           (3, 7, "tag"), (1, 7, "tag")])
    calls = []
    real = graph.transitive_closure

    def counting(edges, pred=None, **kw):
        calls.append(pred)
        return real(edges, pred=pred, **kw)

    monkeypatch.setattr(graph, "transitive_closure", counting)
    out = graph.match_pattern(df, [("?x", "in+", "?y"), ("?y", "in*", "?z")])
    out.collect()
    assert calls == ["in"]                   # one loop for +, reused by *

    calls.clear()
    graph.match_pattern(df, [("?x", "in+", "?y"),
                             ("?x", "of+", "?z")]).collect()
    assert sorted(calls) == ["in", "of"]

    # constant-endpoint closures take the output-bounded reachability path:
    # zero doubling loops, identical solutions
    calls.clear()
    out = graph.match_pattern(df, [("?x", "in+", 3), ("?y", "in*", 3),
                                   ("?x", "tag", "?t"), ("?y", "tag", "?t")])
    rows = {(r["x"], r["y"], r["t"]) for r in out.collect()}
    assert calls == []
    # in+ to 3: x ∈ {1, 2}; in* to 3: y ∈ {1, 2, 3}; joined through tag
    assert rows == {(1, 1, 7), (1, 3, 7)}


def _arrow_edges_df(spark, rows):
    """Like ``_edges_df``, but built through Arrow: a LocalRelation whose size
    estimate is known, so a constant-endpoint path can take the driver-side
    reach (a list-built frame's size is unknown and always too big)."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({"src_id": pa.array([r[0] for r in rows], pa.int64()),
                  "dst_id": pa.array([r[1] for r in rows], pa.int64()),
                  "pred": pa.array([r[2] for r in rows], pa.string()),
                  "n_occurrences": pa.array([1] * len(rows), pa.int64())}))


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_constant_endpoint_closure_equals_generic(spark, monkeypatch, path):
    """The reach_pairs fast path (constant-endpoint p+ / p* / ^p+) must bind
    exactly the rows of the generic closure algebra on both of its paths —
    the vectorized driver BFS and the distributed frontier loop (forced by
    turning the broadcast budget off) — including cycles (the constant
    reaches itself), self-loops, a NULL endpoint reached on two hops (bound
    once, never expanded) and the * zero-length arm for a constant that is
    not even in the graph's node set."""
    from lingvo_spark_kg.operators import graph

    df = _arrow_edges_df(spark, [(1, 2, "in"), (2, 3, "in"), (3, 1, "in"),
                                 (5, 5, "in"), (8, 9, "of")])
    nulls = _arrow_edges_df(spark, [(1, 2, "in"), (2, None, "in"),
                                    (1, None, "in")])
    used = []
    real = graph._reach_arrow

    def spy(*args):
        used.append(args)
        return real(*args)

    monkeypatch.setattr(graph, "_reach_arrow", spy)

    def rows(frame, pats):
        return sorted((tuple(r) for r in
                       graph.match_pattern(frame, pats).collect()), key=repr)

    key = "spark.sql.autoBroadcastJoinThreshold"
    budget = spark.conf.get(key)
    if path == "distributed":
        spark.conf.set(key, "-1")
    try:
        # cycle: everything on the 1→2→3→1 loop reaches 3, including 3 itself
        assert rows(df, [("?x", "in+", 3)]) == [(1,), (2,), (3,)]
        # forward from a constant subject
        assert rows(df, [(1, "in+", "?y")]) == [(1,), (2,), (3,)]
        # self-loop: 5 reaches itself in one hop
        assert rows(df, [("?x", "in+", 5)]) == [(5,)]
        # * adds the zero-length arm for the constant itself
        assert rows(df, [("?x", "of*", 9)]) == [(8,), (9,)]
        # a constant absent from the graph still matches itself under *
        assert rows(df, [("?x", "in*", 77)]) == [(77,)]
        # ...but not under + (no incoming path), nor under ^p+
        assert rows(df, [("?x", "in+", 77)]) == []
        assert rows(df, [(77, "^in+", "?y")]) == []
        # inverse closure from a constant
        assert rows(df, [("?x", "^of+", 8)]) == [(9,)]
        # every constant endpoint binds the generic closure's rows for it
        for frame, consts in ((df, (1, 5, 8)), (nulls, (1, 2))):
            for mod in "+*":
                generic = {tuple(r) for r in graph.match_pattern(
                    frame, [("?s", f"in{mod}", "?o")]).collect()}
                for c in consts:
                    assert rows(frame, [(c, f"in{mod}", "?o")]) == sorted(
                        ((o,) for s, o in generic if s == c), key=repr)
        # a NULL endpoint reached on two hops binds once
        assert rows(nulls, [(1, "in+", "?y")]) == [(2,), (None,)]
        assert rows(nulls, [("?x", "^in+", 1)]) == [(2,), (None,)]
    finally:
        spark.conf.set(key, budget)
    assert bool(used) == (path == "driver")


def test_reach_arrow_matches_python_bfs():
    """The vectorized driver BFS equals a plain set-based BFS on seeded
    random multigraphs: int and string ids, several Arrow chunks, NULL
    endpoints (reached once, never expanded), self-loops, and constants
    inside and outside the graph."""
    import random

    import pyarrow as pa

    from lingvo_spark_kg.operators.graph import _reach_arrow

    def bfs(arcs, const):
        adj = {}
        for s, d in arcs:
            if s is not None:
                adj.setdefault(s, []).append(d)
        seen, frontier = set(), [const]
        while frontier:
            nxt = []
            for n in frontier:
                for d in adj.get(n, ()):
                    if d not in seen:
                        seen.add(d)
                        if d is not None:
                            nxt.append(d)
            frontier = nxt
        return seen

    rng = random.Random(7)
    for _ in range(40):
        n = rng.randrange(1, 30)
        pool = list(range(n)) + [None]
        ints = [(rng.choice(pool), rng.choice(pool))
                for _ in range(rng.randrange(0, 80))]
        cut = rng.randrange(0, len(ints) + 1)
        for typ, conv in ((pa.int64(), lambda v: v),
                          (pa.string(), lambda v: None if v is None
                           else f"n{v}")):
            arcs = [(conv(s), conv(d)) for s, d in ints]

            def col(i):
                vals = pa.array([a[i] for a in arcs], type=typ)
                return pa.chunked_array([vals[:cut], vals[cut:]], type=typ)

            for c in (0, rng.randrange(n), n + 5):
                got = _reach_arrow(col(0), col(1), conv(c)).to_pylist()
                assert len(got) == len(set(got))
                assert set(got) == bfs(arcs, conv(c))


def test_constant_endpoint_path_runs_at_most_three_jobs(spark, tmp_path):
    """A constant-endpoint p+ over a small parquet graph collects its step
    adjacency once and expands the frontier on the driver: at most 3 Spark
    jobs for the whole query, where the per-hop loop runs several per hop."""
    from lingvo_spark_kg.operators.graph import match_pattern

    where = str(tmp_path / "edges")
    _edges_df(spark, [(i, i + 1, "in") for i in range(10)]
              + [(0, 50, "of")]).write.parquet(where)
    df = spark.read.parquet(where)
    sc = spark.sparkContext
    group = f"reach-jobs-{id(df)}"
    sc.setJobGroup(group, group)
    try:
        got = sorted(r["y"] for r in
                     match_pattern(df, [(0, "in+", "?y")]).collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == list(range(1, 11))
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_order_patterns_selectivity_and_connectivity():
    """The greedy order starts at the cheapest pattern and only ever extends
    connected — the selective pattern drives the first join even when the
    user listed the big scan first."""
    from lingvo_spark_kg.operators.graph import _order_patterns

    # user lists the unselective pattern first; est says pattern 1 is tiny
    order = _order_patterns([1000.0, 2.0], [{"a", "b"}, {"b", "c"}])
    assert order == [1, 0]
    # connectivity beats cheapness: pattern 2 is cheapest-but-disconnected
    # from the start until pattern 0 binds "b"
    order = _order_patterns([5.0, 1.0, 2.0],
                            [{"a", "b"}, {"a"}, {"b", "c"}])
    assert order == [1, 0, 2]
    with pytest.raises(ValueError, match="disconnected"):
        _order_patterns([1.0, 1.0], [{"a"}, {"z"}])


def test_match_pattern_stats_reorders_and_results_unchanged(spark, monkeypatch):
    """stats=predicate_stats / dict / True: the compiled order is
    selectivity-aware (observed through the ordering hook), results are
    identical to the unordered run; bad stats raise."""
    from lingvo_spark_kg.operators import graph

    rows = ([(i, i + 1, "big") for i in range(200)]
            + [(0, 500, "small"), (500, 2, "small")])
    df = _edges_df(spark, rows)
    pats = [("?a", "big", "?b"), ("?b", "small", "?c")]

    seen = []
    real = graph._order_patterns

    def spy(ests, varsets):
        out = real(ests, varsets)
        seen.append((list(ests), out))
        return out

    monkeypatch.setattr(graph, "_order_patterns", spy)
    base = {tuple(r) for r in graph.match_pattern(df, pats).collect()}
    for st in (True, graph.predicate_stats(df), {"big": 200, "small": 2}):
        seen.clear()
        got = {tuple(r) for r in
               graph.match_pattern(df, pats, stats=st).collect()}
        assert got == base
        ests, order = seen[0]
        assert order[0] == 1 and ests[1] < ests[0]   # small drives the join

    with pytest.raises(ValueError, match="stats must be"):
        graph.match_pattern(df, pats, stats=3.14)


def test_match_pattern_const_endpoint_heuristic_order(spark, monkeypatch):
    """Even with stats=None, a constant-endpoint pattern is ordered before an
    endpoint-free one (the static heuristic VERDICT r6 asked to improve on is
    at least selectivity-shaped)."""
    from lingvo_spark_kg.operators import graph

    df = _edges_df(spark, [(1, 2, "a"), (2, 3, "b"), (7, 2, "a")])
    seen = []
    real = graph._order_patterns

    def spy(ests, varsets):
        out = real(ests, varsets)
        seen.append(out)
        return out

    monkeypatch.setattr(graph, "_order_patterns", spy)
    got = {tuple(r) for r in graph.match_pattern(
        df, [("?x", "a", "?y"), ("?y", "b", 3)]).collect()}
    assert got == {(1, 2), (7, 2)}
    assert seen[0][0] == 1                    # const-obj pattern leads


def test_construct_and_pipeline_passthrough(spark, tmp_path):
    """construct_edges and KgPipeline.query expose filter/stats/paths."""
    from lingvo_spark_kg.operators.graph import construct_edges

    df = _edges_df(spark, [(1, 10, "w"), (2, 10, "w"), (10, 100, "l"),
                           (100, 200, "l")])
    got = {tuple(r) for r in construct_edges(
        df, [("?p", "w", "?org"), ("?org", "l+", "?c")],
        ("?p", "in", "?c"), filter="p <> 2").collect()}
    assert got == {(1, "in", 100, 1), (1, "in", 200, 1)}

    from lingvo_spark_kg.pipeline import KgPipeline

    p = KgPipeline(spark, str(tmp_path / "wd"), n_docs=30, seed=4)
    p.run(resume=True)
    pred = p.table("edges").select("pred").first()["pred"]
    out = p.query([("?s", pred, "?o")], filter="s IS NOT NULL", stats=True)
    assert out.columns == ["s", "o"]
    assert out.count() == p.table("edges").where(
        F.col("pred") == pred).count()


def test_path_terms_plan_no_cartesian(spark):
    """Every new path form still compiles to keyed joins only."""
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "a"), (2, 3, "b"), (3, 4, "a")])
    for term in ("a*", "a?", "a|b", "a/b", "^a/b+", "a*/b"):
        plan = match_pattern(df, [("?x", term, "?y")]) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan


def _norm(df):
    """check_oracles.normalize twin for the folded-row pytest gates."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype(float).round(4)
        elif "int" in str(df[c].dtype).lower():
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def test_tag_probs_numpy_still_gated_vs_golden(spark, sf_dir):
    """The NumPy probability path lost its driver row to the onnx superset
    gate (round-7 50-row fold) — this keeps its independent-golden compare as
    a hard pytest signal."""
    import duckdb

    import __spark_entry__ as e
    from lingvo_spark_kg import golden

    out_dir = e._goldens_dir(sf_dir)
    paths = golden.ensure_goldens(sf_dir, out_dir, names=("tag_probs",))
    got = _norm(e.q_tag_probs(spark, sf_dir).toPandas())
    ref = _norm(duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{paths['tag_probs']}')").df())
    assert len(got) == len(ref) > 0
    assert got.equals(ref)


def test_media_frames_still_gated_vs_goldens(spark, sf_dir):
    """media_frames lost its driver row to the media_meta_resized fold — keep
    the fake+real frame-sampling compare as a hard pytest signal."""
    import duckdb

    import __spark_entry__ as e
    from lingvo_spark_kg import golden

    out_dir = e._goldens_dir(sf_dir)
    paths = golden.ensure_goldens(
        sf_dir, out_dir, names=("media_frames", "media_frames_real"))
    got = _norm(e.q_media_frames(spark, sf_dir).toPandas())
    ref = _norm(duckdb.connect().execute(f"""
        SELECT *, 'fake' AS variant FROM read_parquet('{paths["media_frames"]}')
        UNION ALL
        SELECT *, 'real' AS variant
        FROM read_parquet('{paths["media_frames_real"]}')
    """).df())
    assert len(got) == len(ref) > 0
    assert got.equals(ref)


def test_match_pattern_union_matches_duckdb(spark):
    """SPARQL UNION: bag-merge of the branches' solution multisets, NULL for
    variables a branch does not bind — vs the same NULL-padded UNION ALL in
    DuckDB; column order is first-seen across required-then-union groups."""
    import random

    from lingvo_spark_kg.operators.graph import match_pattern

    rng = random.Random(79)
    rows = sorted({(rng.randrange(12), rng.randrange(12),
                    rng.choice(["w", "k", "t"])) for _ in range(40)})
    df = _edges_df(spark, rows)
    out = match_pattern(df, [("?x", "w", "?y")],
                        union=[[("?x", "k", "?z")]])
    assert out.columns == ["x", "y", "z"]
    got = sorted((tuple(r) for r in out.collect()),
                 key=lambda t: tuple((v is None, v) for v in t))
    ref = sorted((tuple(r) for r in _duck(rows).execute("""
        SELECT s AS x, d AS y, NULL AS z FROM e WHERE p = 'w'
        UNION ALL SELECT s, NULL, d FROM e WHERE p = 'k'
    """).fetchall()), key=lambda t: tuple((v is None, v) for v in t))
    assert got == ref and len(got) > 0

    # bag semantics: a pair matched by BOTH branches appears twice
    df2 = _edges_df(spark, [(1, 2, "w"), (1, 2, "k")])
    n = match_pattern(df2, [("?x", "w", "?y")],
                      union=[[("?x", "k", "?y")]]).count()
    assert n == 2


def test_match_pattern_minus_matches_duckdb(spark):
    """SPARQL MINUS as LEFT ANTI JOIN on shared vars — vs NOT EXISTS; minus
    variables never project; disjoint-domain group raises."""
    import random

    from lingvo_spark_kg.operators.graph import match_pattern

    rng = random.Random(83)
    rows = sorted({(rng.randrange(12), rng.randrange(12),
                    rng.choice(["w", "bad"])) for _ in range(40)})
    df = _edges_df(spark, rows)
    out = match_pattern(df, [("?x", "w", "?y")],
                        minus=[[("?x", "bad", "?z")]])
    assert out.columns == ["x", "y"]           # ?z does not project
    got = {tuple(r) for r in out.collect()}
    ref = {tuple(r) for r in _duck(rows).execute("""
        SELECT s, d FROM e w WHERE p = 'w' AND NOT EXISTS (
            SELECT 1 FROM e b WHERE b.p = 'bad' AND b.s = w.s)
    """).fetchall()}
    assert got == ref
    kept_all = {tuple(r) for r in
                match_pattern(df, [("?x", "w", "?y")]).collect()}
    assert got < kept_all                       # minus removed something

    with pytest.raises(ValueError, match="minus group must share"):
        match_pattern(df, [("?x", "w", "?y")], minus=[[("?a", "bad", "?b")]])
    with pytest.raises(ValueError, match="minus group must not be empty"):
        match_pattern(df, [("?x", "w", "?y")], minus=[[]])
    with pytest.raises(ValueError, match="union group must not be empty"):
        match_pattern(df, [("?x", "w", "?y")], union=[[]])


def test_match_pattern_union_optional_minus_composition(spark):
    """Fixed evaluation order: patterns → UNION → OPTIONAL → MINUS → FILTER.
    The optional group joins variables bound by a union branch; minus then
    prunes; NULL shared keys survive the anti-join (documented SQL-null
    semantics)."""
    from lingvo_spark_kg.operators.graph import match_pattern

    rows = [(1, 2, "w"), (3, 4, "k"),
            (2, 9, "tag"), (4, 8, "tag"),
            (9, 0, "bad")]
    df = _edges_df(spark, rows)
    out = match_pattern(df, [("?x", "w", "?y")],
                        union=[[("?x", "k", "?y")]],
                        optional=[[("?y", "tag", "?t")]],
                        minus=[[("?t", "bad", "?z")]],
                        filter="x IS NOT NULL")
    got = {tuple(r) for r in out.collect()}
    # (1,2) tags to 9, but 9 has a bad-edge → removed by MINUS;
    # (3,4) tags to 8, kept
    assert got == {(3, 4, 8)}


def test_sequence_of_same_closure_self_join(spark):
    """a+/a+ reuses ONE cached closure frame on both sides of the sequence
    join (shared lineage self-join) — multiplicity = number of mids."""
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "a"), (2, 3, "a"), (3, 4, "a"), (1, 5, "b")])
    got = sorted(tuple(r) for r in
                 match_pattern(df, [("?x", "a+/a+", "?y")]).collect())
    # closure = {12,13,14,23,24,34}; (1,4) has two mids (2 and 3)
    assert got == [(1, 3), (1, 4), (1, 4), (2, 4)]


def test_match_pattern_values_dict_and_rows(spark):
    """SPARQL VALUES: dict form = per-variable isin filter; (vars, rows) form
    = broadcast inner join on row-wise bindings — vs the same IN / join in
    DuckDB; error paths for unbound vars, empty lists, arity, UNDEF."""
    import random

    from lingvo_spark_kg.operators.graph import match_pattern

    rng = random.Random(89)
    rows = sorted({(rng.randrange(10), rng.randrange(10), "w")
                   for _ in range(30)})
    df = _edges_df(spark, rows)
    con = _duck(rows)

    got = {tuple(r) for r in match_pattern(
        df, [("?x", "w", "?y")], values={"x": [1, 3, 5]}).collect()}
    ref = {tuple(r) for r in con.execute(
        "SELECT s, d FROM e WHERE p = 'w' AND s IN (1, 3, 5)").fetchall()}
    assert got == ref and len(got) > 0

    pairs = sorted(got)[:3]
    got2 = sorted(tuple(r) for r in match_pattern(
        df, [("?x", "w", "?y")], values=(("x", "y"), pairs)).collect())
    assert got2 == pairs        # exactly the bound rows survive (bag: 1 each)

    with pytest.raises(ValueError, match="not bound"):
        match_pattern(df, [("?x", "w", "?y")], values={"z": [1]})
    with pytest.raises(ValueError, match="not be empty"):
        match_pattern(df, [("?x", "w", "?y")], values={"x": []})
    with pytest.raises(ValueError, match="UNDEF"):
        match_pattern(df, [("?x", "w", "?y")], values={"x": [1, None]})
    with pytest.raises(ValueError, match="match the variable list"):
        match_pattern(df, [("?x", "w", "?y")],
                      values=(("x", "y"), [(1,)]))
    with pytest.raises(ValueError, match="UNDEF"):
        match_pattern(df, [("?x", "w", "?y")],
                      values=(("x", "y"), [(1, None)]))


def test_match_pattern_values_pushdown_and_order(spark, tmp_path):
    """The dict form reaches the parquet scan as an In filter (the 100-TB
    point of VALUES), and VALUES applies BEFORE optional groups (constrained
    solutions drive the left join)."""
    from lingvo_spark_kg.operators.graph import match_pattern

    path = str(tmp_path / "edges.parquet")
    _edges_df(spark, [(1, 2, "a"), (3, 4, "a"), (5, 6, "a"),
                      (2, 9, "t")]).write.parquet(path)
    edges = spark.read.parquet(path)
    q = match_pattern(edges, [("?x", "a", "?y")], values={"x": [1, 3]},
                      optional=[[("?y", "t", "?z")]])
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(src_id" in plan
    got = {tuple(r) for r in q.collect()}
    assert got == {(1, 2, 9), (3, 4, None)}


def test_zero_or_one_constant_outside_graph(spark):
    """p? zero-length arm also covers query constants absent from the graph
    (same SPARQL 'terms mentioned in the query' rule as p*)."""
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "p")])
    got = {tuple(r) for r in match_pattern(df, [(99, "p?", "?x")]).collect()}
    assert got == {(99,)}


def test_stats_with_path_terms(spark):
    """stats=True estimates path terms too (closure multiplier + zero-length
    addend) — results identical to the unordered compile."""
    from lingvo_spark_kg.operators import graph

    df = _edges_df(spark, [(1, 2, "in"), (2, 3, "in"), (1, 7, "tag"),
                           (2, 8, "tag"), (3, 9, "tag")])
    pats = [("?x", "in*", 3), ("?x", "tag", "?t")]
    base = {tuple(r) for r in graph.match_pattern(df, pats).collect()}
    got = {tuple(r) for r in
           graph.match_pattern(df, pats, stats=True).collect()}
    assert got == base and (3, 9) in got     # reflexive x=3 via zero-length


def test_values_union_null_compatibility_and_bag_join(spark):
    """Review fixes: dict-form VALUES keeps solutions whose variable is
    unbound (NULL from a union branch) — SPARQL compatibility; row-form
    VALUES is a bag join (duplicate binding rows multiply)."""
    from lingvo_spark_kg.operators.graph import match_pattern

    df = _edges_df(spark, [(1, 2, "w"), (3, 4, "k")])
    out = match_pattern(df, [("?a", "w", "?b")],
                        union=[[("?a", "k", "?c")]],
                        values={"c": [99]})
    got = {tuple(r) for r in out.collect()}
    # required-branch row (1,2,NULL) is KEPT (c unbound); union row (3,NULL,4)
    # is dropped (c=4 not in [99])
    assert got == {(1, 2, None)}

    n = match_pattern(df, [("?a", "w", "?b")],
                      values=(("a", "b"), [(1, 2), (1, 2)])).count()
    assert n == 2                       # bag: duplicate binding rows multiply
