"""``smallgraph.small_arrow``, the one measured small-input gate: one bounded
Arrow collect decides, within a row cap and the broadcast budget's bytes, and
is itself the small frame's data. The graph operators behind it take their
driver kernels on real (join-built) inputs, and over the cap their Spark
loops do not re-run the plan the collect already ran."""

import itertools

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lingvo_spark_kg.operators import canonicalize, smallgraph

_GROUPS = itertools.count()


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"small-arrow-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_arrow_contract(spark, spark_loop):
    """Off switch → None, no job; exactly ``max_rows`` rows → the table;
    one row more → None, in one job; Arrow bytes over the budget → None."""
    df = spark.range(5)
    with spark_loop():
        out, jobs = _jobs(spark, lambda: smallgraph.small_arrow(df, 5))
    assert out is None and jobs == 0

    out, jobs = _jobs(spark, lambda: smallgraph.small_arrow(df, 5))
    assert isinstance(out, pa.Table) and jobs == 1
    assert sorted(out["id"].to_pylist()) == list(range(5))

    out, jobs = _jobs(spark, lambda: smallgraph.small_arrow(df, 4))
    assert out is None and jobs == 1

    nbytes = smallgraph.small_arrow(df, 5).nbytes
    key = "spark.sql.autoBroadcastJoinThreshold"
    budget = spark.conf.get(key)
    try:
        spark.conf.set(key, str(nbytes))
        assert smallgraph.small_arrow(df, 5) is not None
        spark.conf.set(key, str(nbytes - 1))
        assert smallgraph.small_arrow(df, 5) is None
    finally:
        spark.conf.set(key, budget)


def test_cc_over_the_cap_computes_its_upstream_once(spark, monkeypatch,
                                                   cc_kernel_calls):
    """Over the kernel cap, the Spark CC loop reads the checkpoint that the
    deciding collect materialized: a pass-through UDF upstream of the edges
    counts each row once (a re-run of the edges' plan would count it again
    for every pass)."""
    monkeypatch.setattr(canonicalize, "KERNEL_ROWS", 3)
    seen = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tap(v):
        seen.add(1)
        return v

    chain = [(f"v{i}", f"v{i + 1}") for i in range(8)]
    edges = spark.createDataFrame(chain, ["src", "dst"]) \
        .select(tap("src").alias("src"), "dst")
    comp = {r["v"]: r["component"]
            for r in canonicalize.connected_components(edges).collect()}
    assert set(comp.values()) == {"v0"} and len(comp) == 9
    assert cc_kernel_calls == []
    assert seen.value == len(chain)


def test_cc_oracle_rows_run_the_driver_kernel(spark, sf_dir, cc_kernel_calls):
    """The oracle rows build their CC edges through joins, whose optimizer
    size estimate multiplies past any budget; the measured gate sends their
    few hundred edges to the driver kernel: once for ``kg_canonical``, and
    twice for ``kg_edges_incremental`` (the base map and the delta's)."""
    import __spark_entry__ as e

    e.q_kg_canonical(spark, sf_dir)
    assert len(cc_kernel_calls) == 1
    e.q_kg_edges_incremental(spark, sf_dir)
    assert len(cc_kernel_calls) == 3


_EDGES_SCHEMA = T.StructType([T.StructField("src_id", T.LongType()),
                              T.StructField("pred", T.StringType()),
                              T.StructField("dst_id", T.LongType())])


def _chain_edges(n: int = 12) -> pa.Table:
    """A ``p`` chain 0 → 1 → … → n with a ``q`` arc off every node."""
    src = list(range(n)) * 2
    return pa.table({"src_id": pa.array(src, pa.int64()),
                     "pred": ["p"] * n + ["q"] * n,
                     "dst_id": pa.array(list(range(1, n + 1))
                                        + [100 + i for i in range(n)],
                                        pa.int64())})


def _checkpoint_calls(monkeypatch) -> list:
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    real = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        calls.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return calls


def test_reach_over_a_local_frame_probes_once_without_checkpoint(
        spark, monkeypatch):
    """A constant-endpoint ``p+`` over a driver-built edges frame (whose rows
    are in its plan, as for the resident edges copy) is decided by its one
    probe job and checkpoints nothing; over a list-built copy of the same
    edges the step is checkpointed first, and both reach the same set."""
    from lingvo_spark_kg.operators.graph import match_pattern

    table = _chain_edges()
    edges = smallgraph.local_frame(spark, table, _EDGES_SCHEMA)
    calls = _checkpoint_calls(monkeypatch)
    out, jobs = _jobs(spark, lambda: match_pattern(edges, [(3, "p+", "?x")]))
    assert jobs == 1 and calls == []
    got = {r["x"] for r in out.collect()}
    assert got == set(range(4, 13))

    listed = spark.createDataFrame(
        list(zip(*(table[c].to_pylist() for c in table.column_names))),
        _EDGES_SCHEMA)
    assert {r["x"] for r in match_pattern(
        listed, [(3, "p+", "?x")]).collect()} == got
    assert len(calls) == 1


def test_reusable_checkpoints_only_frames_not_in_their_plan(
        spark, monkeypatch, tmp_path):
    """A driver-built frame, and a filter or projection of it, is its own
    reusable form; a parquet read, a Python UDF over the driver-built frame
    and a list-built frame are checkpointed lazily (no job runs)."""
    local = smallgraph.local_frame(spark, _chain_edges(), _EDGES_SCHEMA)
    resident = [local,
                local.where(F.col("pred") == "p").select("src_id", "dst_id"),
                # over ONE_PARTITION_ROWS: a bare LocalRelation
                smallgraph.local_frame(spark, _chain_edges(10_001),
                                       _EDGES_SCHEMA)]
    local.write.parquet(str(tmp_path / "edges"))

    @F.udf("long")
    def bump(v):
        return v + 1

    derived = [spark.read.parquet(str(tmp_path / "edges")),
               local.select(bump("src_id").alias("src_id"), "dst_id"),
               spark.createDataFrame([(1, 2)], "src_id long, dst_id long")]
    calls = _checkpoint_calls(monkeypatch)
    for df in resident:
        assert smallgraph.reusable(df) is df
    assert calls == []
    (outs, jobs) = _jobs(spark, lambda: [smallgraph.reusable(df)
                                         for df in derived])
    assert calls == derived and jobs == 0
    assert all(out is not df for out, df in zip(outs, derived))
