"""Where a one-partition, driver-resident copy of the edges table stops paying.

Builds the kgbench ``query_kg_hub`` KG (seed 1) in a kgbench session, then for
each multiplier k writes k copies of its edges table (node ids shifted per
copy, doc sketches re-drawn per copy so they compress like real ones, same
8-bucket layout) and times the kgbench lookup round and analytics pass over
the table's parquet read and over ``smallgraph.local_frame`` of it, forced one
partition regardless of ``smallgraph.ONE_PARTITION_ROWS``. Prints one JSON
line per k. The table in docs/SCALE.md (*Driver-resident kernels*) came from
runs of this script.

Usage: python tools/resident_crossover.py WORKDIR K1,K2,... [REPS] [--no-sketch]
  REPS (default 5) interleaved lookup rounds per side; the analytics pass
  runs once per side. ``--no-sketch`` nulls the doc sketch column first.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kgbench import corpus  # noqa: E402
from kgbench import run as kgrun  # noqa: E402
from kgbench.workloads import ANALYTICS, LOOKUPS, WORKLOADS, Lifecycle, consume  # noqa: E402
from lingvo_spark_kg.operators import smallgraph  # noqa: E402
from lingvo_spark_kg.operators.writer import ParquetTableWriter  # noqa: E402


def scaled(base, k: int):
    """``k`` copies of ``base``: ids suffixed ``#i``, sketches re-drawn at
    their original length."""
    sk_len = base.select(F.max(F.length("doc_sketch"))).first()[0] or 0

    def copy(i):
        if i == 0:
            return base
        salt = F.concat(*[F.unhex(F.sha2(F.concat(
            F.col("doc_sketch"), F.lit(f"{i}/{j}").cast("binary")), 512))
            for j in range(sk_len // 64 + 1)])
        return base.withColumns({
            "src_id": F.concat("src_id", F.lit(f"#{i}")),
            "dst_id": F.concat("dst_id", F.lit(f"#{i}")),
            "doc_sketch": F.substring(salt, F.lit(1), F.length("doc_sketch"))})

    df = copy(0)
    for i in range(1, k):
        df = df.unionByName(copy(i))
    return df


def timed(p, plan, frame, ops: dict) -> float:
    p.table = lambda stage, generation=None: frame
    t = time.perf_counter()
    for _, query in ops.values():
        consume(query(p, plan))
    return time.perf_counter() - t


def main(argv) -> None:
    work, ks = Path(argv[0]), [int(k) for k in argv[1].split(",")]
    reps = int(argv[2]) if len(argv) > 2 and argv[2].isdigit() else 5
    kgrun.set_env(work)
    spark = kgrun.start_spark(work, None)
    wl = WORKLOADS["query_kg_hub"]
    docs, delta = work / "docs.parquet", work / "delta.parquet"
    fp = corpus.write_docs(str(docs), wl.corpus, wl.n_docs, 1)
    corpus.write_docs(str(delta), wl.corpus, wl.n_delta, 1, start=wl.n_docs)
    life = Lifecycle(spark, wl, str(docs), str(delta), fp, str(work / "kg"))
    life.build()
    p, plan = life._p, life._plan()
    base = p._writer().read(spark, "edges")
    if "--no-sketch" in argv:
        base = base.withColumn("doc_sketch", F.lit(None).cast("binary"))
    w = ParquetTableWriter(str(work / "scaled"))
    for k in ks:
        name = f"edges_x{k}"
        w.write(scaled(base, k), name, bucket_col="bucket", n_buckets=8)
        parquet = w.read(spark, name)
        table = parquet.toArrow()
        copy = spark.createDataFrame(table, parquet.schema).coalesce(1)
        sides = {"parquet": parquet, "copy": copy}
        lookups = {s: [] for s in sides}
        for r in range(reps):
            for s in (sides if r % 2 == 0 else reversed(list(sides))):
                lookups[s].append(timed(p, plan, sides[s], LOOKUPS))
        out = {"k": k, "rows": table.num_rows,
               "arrow_mb": round(table.nbytes / 2**20, 2),
               "fits_budget": smallgraph.small_arrow(
                   parquet, table.num_rows) is not None}
        for s, frame in sides.items():
            out[f"lookups_{s}_s"] = round(sorted(lookups[s])[reps // 2], 3)
            out[f"analytics_{s}_s"] = round(timed(p, plan, frame, ANALYTICS), 3)
        print(json.dumps(out), flush=True)
        w.drop(spark, name)
    life.close()
    kgrun.stop_spark(spark)


if __name__ == "__main__":
    main(sys.argv[1:])
