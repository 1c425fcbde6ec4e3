"""``smallgraph.small_arrow``, the one measured small-input gate: one bounded
Arrow collect decides, within a row cap and the broadcast budget's bytes, and
is itself the small frame's data. The graph operators behind it take their
driver kernels on real (join-built) inputs, and over the cap their Spark
loops do not re-run the plan the collect already ran."""

import itertools

import pyarrow as pa
from pyspark.sql import functions as F

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
