"""KgPipeline.table("edges") serves a one-partition, session-resident copy of
the current committed edges table when its parquet read fits the broadcast
budget and holds at most ``smallgraph.ONE_PARTITION_ROWS`` rows
(``smallgraph.local_frame``), memoized by the physical table, the writer's
version token and the budget. The copy must be indistinguishable from the
parquet read except in cost: same schema, same rows, fewer jobs."""

import itertools

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lingvo_spark_kg.operators import smallgraph
from lingvo_spark_kg.operators.writer import ParquetTableWriter
from lingvo_spark_kg.pipeline import KgPipeline


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    """One small built KG; the doc sketch adds a binary column."""
    p = KgPipeline(spark, str(tmp_path_factory.mktemp("kg_resident")),
                   n_docs=60, edge_doc_sketch=True)
    p.run(resume=False)
    return p


_GROUPS = itertools.count()


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"resident-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_resident_edges_keep_schema_rows_one_partition(spark, kg):
    parquet = kg._writer().read(spark, "edges")
    edges = kg.table("edges")
    assert edges.dtypes == parquet.dtypes
    assert [f.nullable for f in edges.schema] == \
        [f.nullable for f in parquet.schema]
    assert dict(edges.dtypes)["doc_sketch"] == "binary"
    assert edges.rdd.getNumPartitions() == 1
    assert "FileScan" not in _plan(edges)
    assert _rows(edges) == _rows(parquet)
    assert kg.table("edges") is edges          # the memo, not a re-collect


def test_hub_lookup_runs_one_job_when_resident(spark, kg):
    """A one-partition child needs no exchange under the global count, so a
    warm lookup is one job (two over the 4-partition parquet scan)."""
    hub = (kg.table("edges").groupBy("src_id").count()
           .orderBy(F.desc("count"), "src_id").first()["src_id"])

    def lookup():
        return kg.query([(hub, "?p", "?o")]).count()

    first, _ = _jobs(spark, lookup)
    n, jobs = _jobs(spark, lookup)
    assert n == first == kg._writer().read(spark, "edges") \
        .where(F.col("src_id") == hub).count() > 0
    assert jobs == 1


def test_edges_read_parquet_off_budget_or_without_token(spark, kg):
    """Budget -1 (the off switch) and a writer without a version token both
    keep today's parquet read, memo or not."""
    kg.table("edges")                             # memoized under the budget
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert "FileScan parquet" in _plan(kg.table("edges"))
    finally:
        spark.conf.set(key, old)
    assert "FileScan" not in _plan(kg.table("edges"))

    class NoToken(ParquetTableWriter):
        def version(self, spark, table):
            return None

    untracked = KgPipeline(spark, kg.workdir, n_docs=kg.n_docs,
                           edge_doc_sketch=True, writer=NoToken(kg.workdir))
    assert "FileScan parquet" in _plan(untracked.table("edges"))


def test_rebuild_by_another_pipeline_is_not_served_stale(spark, tmp_path):
    wd = str(tmp_path / "wd")
    first = KgPipeline(spark, wd, n_docs=30, seed=4)
    first.run(resume=False)
    before = _rows(first.table("edges"))
    other = KgPipeline(spark, wd, n_docs=40, seed=5)
    other.run(resume=False)
    after = _rows(first.table("edges"))
    assert after == _rows(other._writer().read(spark, "edges"))
    assert after != before


def test_edges_over_the_row_cap_keep_the_parquet_read(spark, kg, monkeypatch):
    """A table over ``ONE_PARTITION_ROWS`` is read from parquet, keeping its
    scan parallelism and pushdown; at the cap it is the resident copy."""
    n = kg._writer().read(spark, "edges").count()

    def fresh():
        return KgPipeline(spark, kg.workdir, n_docs=kg.n_docs,
                          edge_doc_sketch=True)

    monkeypatch.setattr(smallgraph, "ONE_PARTITION_ROWS", n - 1)
    over = fresh()
    edges, jobs = _jobs(spark, lambda: over.table("edges"))
    assert "FileScan parquet" in _plan(edges)
    assert jobs == 1                        # the capped collect that decided
    assert over.table("edges") is edges     # decided once per table version
    monkeypatch.setattr(smallgraph, "ONE_PARTITION_ROWS", n)
    at_cap = fresh().table("edges")
    assert "FileScan" not in _plan(at_cap)
    assert _rows(at_cap) == _rows(edges)


def test_time_travel_edges_read_stays_lazy(spark, kg):
    """Only the current generation is served resident: an explicit
    ``generation`` read is the writer's parquet read and runs no job."""
    kg.table("edges")
    past, jobs = _jobs(spark, lambda: kg.table("edges", generation=0))
    assert jobs == 0
    assert "FileScan parquet" in _plan(past)
    assert "FileScan" not in _plan(kg.table("edges"))


def test_local_frame_is_one_partition_only_up_to_the_cap(spark, monkeypatch):
    monkeypatch.setattr(smallgraph, "ONE_PARTITION_ROWS", 4)
    schema = T.StructType([T.StructField("x", T.LongType())])

    def parts(n):
        return smallgraph.local_frame(
            spark, pa.table({"x": pa.array(range(n), pa.int64())}), schema
        ).rdd.getNumPartitions()

    assert parts(4) == 1
    assert parts(5) > 1
