"""Where the driver graph kernels stop paying: connected components over N
arcs, on the driver (one bounded Arrow collect, then the numpy kernel)
vs the Spark loop (the broadcast budget turned off).

For each N, writes N arcs shaped like canonicalization's mention graph to
parquet with pyarrow: N distinct mention ids, each linked to one of N/8
random anchors (star-shaped blocks, so the Spark loop converges in a few
rounds; ids of 26 bytes, about a mention vertex id's length). It reads them
back with Spark and times both paths of ``canonicalize.connected_components``
end to end, a count of its labels included; the driver path's collect and
kernel are also timed on their own. An N whose Arrow table is over the
budget reports the loop only. One warm-up call at 1,000 arcs runs first.
Prints one JSON line per N. The table in docs/SCALE.md (*Driver-resident
kernels*) came from runs of this script, which set ``smallgraph.KERNEL_ROWS``.

Usage: python tools/kernel_crossover.py WORKDIR N1,N2,...
  Runs on ``local[$SPARK_GRAFT_CPUS]`` with ``SPARK_DRIVER_MEMORY`` (kgbench
  uses 3g).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lingvo_spark_kg.operators import canonicalize, smallgraph  # noqa: E402
from lingvo_spark_kg.session import get_spark  # noqa: E402


def arcs(spark, workdir: str, n: int):
    where = os.path.join(workdir, f"arcs_{n}")
    hubs = np.random.default_rng(n).integers(0, max(1, n // 8), size=n)
    pq.write_table(pa.table({"src": [f"m:PER:{i:020d}" for i in range(n)],
                             "dst": [f"e:{h:024d}" for h in hubs]}), where)
    return spark.read.parquet(where)


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t, 3)


def main(argv):
    workdir, ns = argv[0], [int(n) for n in argv[1].split(",")]
    os.makedirs(workdir, exist_ok=True)
    spark = get_spark(app_name="kernel-crossover")
    key = "spark.sql.autoBroadcastJoinThreshold"
    budget = spark.conf.get(key)
    canonicalize.connected_components(arcs(spark, workdir, 1000)).count()
    for n in ns:
        edges = arcs(spark, workdir, n)
        out = {"arcs": n}
        table, out["collect_s"] = timed(
            lambda: smallgraph.small_arrow(edges, n))
        if table is not None:
            out["arrow_mb"] = round(table.nbytes / 2**20, 1)
            _, out["kernel_s"] = timed(lambda: canonicalize._components_arrow(
                table["src"], table["dst"]))
            out["vertices"], out["driver_path_s"] = timed(
                lambda: canonicalize.connected_components(edges).count())
        spark.conf.set(key, "-1")
        try:
            vertices, out["loop_s"] = timed(
                lambda: canonicalize.connected_components(edges).count())
        finally:
            spark.conf.set(key, budget)
        assert out.setdefault("vertices", vertices) == vertices
        print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
