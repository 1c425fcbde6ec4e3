"""Where the driver's time goes in each kgbench lookup.

Builds the kgbench ``query_kg_hub`` KG for a seed in a kgbench session and
runs its lookup round ``REPS + 1`` times; the first round warms up and is not
reported. Prints one JSON line per lookup with the median over the reported
rounds of:

* ``py4j_calls``: Py4J call commands sent while the lookup's frame is built
  (the library's planning, its small-input probe included). Py4J's
  GC-detach messages are not counted: they fire whenever Python's collector
  runs, not per call;
* ``plan_ms``: building the lookup's frame;
* ``agg_ms``: building kgbench's ``consume`` aggregate over it;
* ``collect_ms``: that aggregate's collect;
* ``jobs``: Spark jobs of the whole lookup (frame, aggregate and collect);
* ``analysis_ms`` / ``optimization_ms``: the aggregate's
  ``QueryPlanningTracker`` phases.

Usage: python tools/lookup_roundtrips.py WORKDIR [SEED] [REPS]
  SEED defaults to 1, REPS to 5. WORKDIR is created and holds the corpus,
  the KG and Spark's local dirs; delete it afterwards.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import py4j.clientserver  # noqa: E402
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from kgbench import corpus  # noqa: E402
from kgbench import run as kgrun  # noqa: E402
from kgbench.workloads import LOOKUPS, WORKLOADS, Lifecycle, consume  # noqa: E402


_GROUPS = itertools.count()


class CallCounter:
    """Counts the Py4J call commands (``"c\\n"``) this process sends."""

    def __init__(self):
        self.n = 0
        self._send = py4j.clientserver.ClientServerConnection.send_command
        counter = self

        def send_command(conn, command):
            if command.startswith("c\n"):
                counter.n += 1
            return counter._send(conn, command)

        py4j.clientserver.ClientServerConnection.send_command = send_command

    def close(self):
        py4j.clientserver.ClientServerConnection.send_command = self._send


def phase_ms(df, phase: str) -> float:
    summary = df._jdf.queryExecution().tracker().phases().get(phase)
    return float(summary.get().durationMs()) if summary.isDefined() else 0.0


def measure(spark, calls: CallCounter, p, plan, name: str, query) -> dict:
    """One lookup, split into its frame build, aggregate build and collect."""
    sc = spark.sparkContext
    group = f"lookup-roundtrips-{name}-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    collected = {}
    collect = DataFrame.collect

    def timed_collect(df):
        t = time.perf_counter()
        rows = collect(df)
        collected.update(df=df, ms=(time.perf_counter() - t) * 1e3)
        return rows

    try:
        n0, t0 = calls.n, time.perf_counter()
        frame = query(p, plan)
        t1, n1 = time.perf_counter(), calls.n
        DataFrame.collect = timed_collect
        try:
            consume(frame)
        finally:
            DataFrame.collect = collect
        t2 = time.perf_counter()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return {"py4j_calls": n1 - n0,
            "plan_ms": (t1 - t0) * 1e3,
            "agg_ms": (t2 - t1) * 1e3 - collected["ms"],
            "collect_ms": collected["ms"],
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            "analysis_ms": phase_ms(collected["df"], "analysis"),
            "optimization_ms": phase_ms(collected["df"], "optimization")}


def main(argv) -> None:
    work = Path(argv[0])
    seed = int(argv[1]) if len(argv) > 1 else 1
    reps = int(argv[2]) if len(argv) > 2 else 5
    kgrun.set_env(work)
    spark = kgrun.start_spark(work, None)
    wl = WORKLOADS["query_kg_hub"]
    docs, delta = work / "docs.parquet", work / "delta.parquet"
    fp = corpus.write_docs(str(docs), wl.corpus, wl.n_docs, seed)
    corpus.write_docs(str(delta), wl.corpus, wl.n_delta, seed, start=wl.n_docs)
    life = Lifecycle(spark, wl, str(docs), str(delta), fp, str(work / "kg"))
    life.build()
    p, plan = life._p, life._plan()
    calls = CallCounter()
    try:
        runs = {name: [] for name in LOOKUPS}
        for r in range(reps + 1):
            for name, (_layer, query) in LOOKUPS.items():
                m = measure(spark, calls, p, plan, name, query)
                if r:
                    runs[name].append(m)
    finally:
        calls.close()
    for name, ms in runs.items():
        out = {"lookup": name, "seed": seed, "reps": reps}
        for k in ms[0]:
            out[k] = round(statistics.median(m[k] for m in ms), 1)
        print(json.dumps(out), flush=True)
    life.close()
    kgrun.stop_spark(spark)


if __name__ == "__main__":
    main(sys.argv[1:])
