"""The benchmark's workloads and the KG operations they run.

A workload is a corpus kind, a pipeline configuration and the operation the
timed loop repeats, one client in a closed loop:

* ``build`` — ``KgPipeline.run(resume=False)`` into a fresh workdir (a batch
  job; the next starts when the last one finishes);
* ``lookup`` — one round of the lookup set (each query once) against a KG
  built in set-up.

The traced run drives a build and then the write path (``ingest_delta`` of
one delta batch) on the build workload, or the read path (one round of the
lookup set, one pass over the analytics set) on the lookup workload.

Every operation's output is recorded and checked against ``oracle``.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass

from lingvo_spark_kg.operators import graph
from lingvo_spark_kg.pipeline import KgPipeline
from pyspark.sql import functions as F

from kgbench.oracle import (COMPOSED_PRED, EDGE_COLS, NODE_COLS, query_plan,
                            table_hash)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    corpus: str        # corpus.GENERATORS key
    op: str            # "build" or "lookup"
    warmup: int        # untimed operations in set-up
    n_docs: int
    n_delta: int


N_BUCKETS = 8   # KgPipeline.n_buckets: table partitions, sized to a 4-core box


WORKLOADS = {w.name: w for w in (
    # on a 4-core box a build is per-job overhead at any corpus size (30 docs
    # take as long as 1000), and the first build of a session pays a
    # size-independent ~16 s of JIT, code generation and Python worker start
    # on top; a warm build after that cold one does not fit a run's time, so
    # the timed build is the session's first, as a freshly submitted batch
    # job runs it
    Workload("build_lexicon_zipf",
             "first build of a session over a duplicate-heavy pool corpus "
             "(staged lexicon tagger): memos hit, tiny graph, per-job "
             "overhead dominates",
             corpus="pool", op="build", warmup=0, n_docs=1000, n_delta=100),
    Workload("query_kg_hub",
             "lookups on the KG of a mostly-unique corpus (staged lexicon "
             "tagger): thousands of entities behind one Zipf hub",
             corpus="unique", op="lookup", warmup=1, n_docs=1000,
             n_delta=100),
)}

PAGERANK_ITERS = 3
LPA_ITERS = 3
BFS_HOPS = 6
BETWEENNESS_PIVOTS = 2


def consume(df) -> int:
    """Evaluate every column of ``df`` in one job; return its row count."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(*df.columns).bitwiseAND(F.lit(0x7FFFFFFF)))
                 .alias("h")).collect()[0]
    return row["n"]


# name -> (layer, query over KgPipeline p with the plan's constants)
LOOKUPS = {
    "bgp_2hop": ("graph", lambda p, c: p.query(
        [("?a", c["p1"], "?b"), ("?b", c["p2"], "?c")])),
    "sparql_groupby": ("sparql", lambda p, c: p.sparql(
        f"SELECT ?s (COUNT(*) AS ?n) WHERE {{ ?s <{c['p2']}> ?o }} "
        "GROUP BY ?s ORDER BY DESC(?n) LIMIT 10")),
    "hub_star": ("graph", lambda p, c: p.query([(c["hub"], "?p", "?o")])),
    "path_plus": ("graph", lambda p, c: p.query(
        [(c["path_start"], f"{c['p1']}+", "?x")])),
}


def _composition_rule(c: dict):
    return ([("?a", c["p1"], "?b"), ("?b", c["p2"], "?c")], ("?a", COMPOSED_PRED, "?c"))


ANALYTICS = {
    "pagerank": ("graph", lambda p, c: graph.pagerank(
        p.table("edges"), n_iter=PAGERANK_ITERS)),
    "label_propagation": ("graph", lambda p, c: graph.label_propagation(
        p.table("edges"), max_iter=LPA_ITERS)),
    "bfs_distances": ("graph", lambda p, c: graph.bfs_distances(
        p.table("edges"), [c["hub"]], max_hops=BFS_HOPS)),
    "betweenness": ("graph", lambda p, c: graph.betweenness_centrality(
        p.table("edges"), n_pivots=BETWEENNESS_PIVOTS)),
    "components": ("graph", lambda p, c: graph.components(p.table("edges"))),
    "materialize_rules": ("graph", lambda p, c: graph.materialize_rules(
        p.table("edges"), [_composition_rule(c)], include_base=False)),
}


@dataclass
class Record:
    """One operation's output: ``op`` is build, ingest or a query name;
    ``gen`` the graph generation it read (0 = build, 1 = after ingest)."""
    op: str
    gen: int
    seconds: float
    counts: dict | None = None
    hashes: dict | None = None
    rows: int | None = None


def _table_hashes(p) -> dict:
    return {name: table_hash(tuple(r) for r in p.table(name).select(*cols).collect())
            for name, cols in (("edges", EDGE_COLS), ("nodes", NODE_COLS))}


class Lifecycle:
    """The KG operations of one workload in one Spark session.

    ``tracer`` (a ``layers.LayerTracer``) is optional; with it each operation
    runs under its layer's job group."""

    def __init__(self, spark, wl: Workload, docs_path: str, delta_path: str,
                 docs_fp: str, workroot: str, tracer=None):
        self.spark, self.wl, self.tracer = spark, wl, tracer
        self.docs = spark.read.parquet(docs_path)
        self.delta = spark.read.parquet(delta_path)
        self.docs_fp = docs_fp
        self.workroot = workroot
        self.records: list[Record] = []
        self.plan: dict | None = None
        self._n_builds = 0
        self._p = None      # the current KG
        self._gen = 0

    def _group(self, group: str):
        return self.tracer.base(group) if self.tracer else nullcontext()

    def _timed(self, group: str, fn):
        with self._group(group):
            t = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t

    def build(self) -> float:
        """Build the KG into a fresh workdir; the previous one is deleted."""
        if self._p is not None:
            shutil.rmtree(self._p.workdir, ignore_errors=True)
        self._n_builds += 1
        workdir = os.path.join(self.workroot, f"kg{self._n_builds}")
        wl = self.wl
        # the staged lexicon pipeline (tokenize, tag and triples as separate
        # stages), so that every build layer has work on every workload
        self._p = KgPipeline(
            self.spark, workdir, n_docs=wl.n_docs, docs_df=self.docs,
            docs_fingerprint=self.docs_fp, tagger="lexicon", fused=False,
            n_buckets=N_BUCKETS, edge_doc_sketch=True,
            writer=self.tracer.writer_for(workdir) if self.tracer else None)
        self._gen = 0
        counts, dt = self._timed("writer", lambda: self._p.run(resume=False))
        with self._group("check"):
            self.records.append(Record("build", 0, dt, counts, _table_hashes(self._p)))
        return dt

    def ingest(self) -> float:
        counts, dt = self._timed("writer", lambda: self._p.ingest_delta(self.delta))
        self._gen = 1
        with self._group("check"):
            self.records.append(Record("ingest", 1, dt, counts, _table_hashes(self._p)))
        return dt

    def _plan(self) -> dict:
        if self.plan is None:
            with self._group("check"):
                self.plan = query_plan([tuple(r) for r in self._p.table("edges")
                                        .select(*EDGE_COLS[:3]).collect()])
        return self.plan

    def _ops(self, ops: dict) -> list[float]:
        plan, out = self._plan(), []
        for name, (layer, query) in ops.items():
            rows, dt = self._timed(f"{layer}/{name}",
                                   lambda: consume(query(self._p, plan)))
            self.records.append(Record(name, self._gen, dt, rows=rows))
            out.append(dt)
        return out

    def lookup_round(self) -> list[float]:
        """One query of each kind in the lookup set; their latencies."""
        return self._ops(LOOKUPS)

    def analytics_pass(self) -> list[float]:
        return self._ops(ANALYTICS)

    def close(self) -> None:
        if self._p is not None:
            shutil.rmtree(self._p.workdir, ignore_errors=True)


def failed_records(records: list[Record], exp: dict) -> list[str]:
    """Operations whose output differs from the oracle's (``oracle.expected``)."""
    bad = []
    for r in records:
        if r.op in ("build", "ingest"):
            want = exp[r.op]
            if (any(r.counts.get(k) != v for k, v in want["counts"].items())
                    or r.hashes != want["hashes"]):
                bad.append(r.op)
        elif r.rows != exp["op_rows"][r.gen][r.op]:
            bad.append(r.op)
    return bad
