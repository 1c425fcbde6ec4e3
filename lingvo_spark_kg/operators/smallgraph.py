"""The shared pieces of the driver-resident graph kernels.

Every "is this frame small enough for the driver?" decision is one measured
collect, :func:`small_arrow`: at most a row cap plus one row through Arrow,
kept when it is within the cap and its Arrow bytes are within the broadcast
budget. Under it a graph operator encodes the node ids to dense codes
(:func:`encode`), runs a vectorized numpy kernel on the driver over the
collected table and returns its result as a LocalRelation (:func:`id_frame`);
over it the operator keeps its distributed Spark loop. The kernels live next
to their Spark loops, ``graph._reach_arrow`` and
``canonicalize._components_arrow``, and share :data:`KERNEL_ROWS`.
``KgPipeline.table("edges")`` makes the same decision under
:data:`ONE_PARTITION_ROWS` and serves lookups from the collected table as a
session-resident copy (:func:`local_frame`).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type


# Rows up to which a driver-built frame is served as one partition. Every job
# over a one-partition frame runs one task that carries and scans all of its
# rows; that beats the exchange a multi-partition scan plans only while the
# frame is small. Measured on a 4-core VM with the kgbench lookup round and
# analytics pass over a scaled-up edges table, one-partition copy vs its
# parquet read, with and without the binary doc sketch column: up to 10.3k
# rows the copy won both (lookups -14..-31%, analytics -7..-13%); at 13.7k the
# lookups won and the analytics were level; at 20.5k the lookups were level
# and the analytics lost 10%; at 41k rows both lost (lookups +49..+68%). The
# crossover follows the row count, not the parquet size (0.1 MB without
# sketches, 0.4 MB with them at 10.3k rows). See docs/SCALE.md.
ONE_PARTITION_ROWS = 10_000

# Arcs up to which a graph kernel (CC, constant-endpoint reach) runs on the
# driver. Measured with tools/kernel_crossover.py on a 4-core VM (3 GB heap):
# CC over star-shaped arc lists with 26-byte string ids, read from parquet,
# took 4.8 s, 4.9 s and 17.2 s in the Spark loop at 10^4, 10^5 and 10^6 arcs,
# and 0.13 s, 0.51 s and 2.9 s as collect plus kernel. At 10^6 arcs the
# collected table is 57 MB, near the 64 MB default broadcast budget, so for
# ids of that length the byte check and this cap meet there. See
# docs/SCALE.md.
KERNEL_ROWS = 1_000_000


def local_frame(spark, table: pa.Table, schema: T.StructType) -> DataFrame:
    """``table`` as a driver-built frame of ``schema`` (the stored Spark
    schema, so dtypes and nullability are kept). Up to
    ``spark.sql.execution.arrow.localRelationThreshold`` it is a
    LocalRelation, whose rows live in the driver's plan, so using the frame
    starts no Python worker and a lost executor cannot lose them. Up to
    :data:`ONE_PARTITION_ROWS` rows it is one partition, which satisfies
    every required distribution: a global aggregate or a GROUP BY over it
    plans no exchange, and AQE runs one job where an exchange would add a
    second."""
    df = spark.createDataFrame(table, schema)
    return df.coalesce(1) if table.num_rows <= ONE_PARTITION_ROWS else df


def id_frame(spark, id_type: T.DataType, **cols) -> DataFrame:
    """A literal frame of node-id columns, each a Python list or an Arrow
    array, built through :func:`local_frame`; a list-built frame would be a
    Python-RDD scan that pays a worker round trip per use."""
    at = to_arrow_type(id_type)
    table = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v, type=at)
                      for k, v in cols.items()})
    return local_frame(spark, table, T.StructType(
        [T.StructField(k, id_type) for k in cols]))


def broadcast_budget(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes — the budget under
    which Spark itself collects a join side through the driver to broadcast
    it (-1, the off switch, admits nothing)."""
    return spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()


def small_arrow(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df`` collected through Arrow when it is small, else None. Small means
    at most ``max_rows`` rows whose Arrow table is within
    :func:`broadcast_budget` bytes: one job collects at most ``max_rows + 1``
    rows and measures them, so a frame whose size the optimizer cannot
    estimate (a list- or join-built one) is judged by its data. Under the
    off switch it returns None and runs no job. A caller that falls back to
    a Spark loop over ``df`` should checkpoint ``df`` lazily first, so the
    loop reads what this collect materialized instead of re-running its
    plan."""
    budget = broadcast_budget(df.sparkSession)
    if budget < 0:
        return None
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows <= max_rows and table.nbytes <= budget:
        return table
    return None


def encode(src: pa.ChunkedArray, dst: pa.ChunkedArray):
    """Dense codes for the ids of the arcs ``src → dst`` → ``(ids, s, d)``:
    ``ids`` holds each distinct non-NULL id once, in ascending order (strings
    by UTF-8 bytes, as Spark compares them), and ``s``/``d`` are int64 code
    arrays where ``ids[s[i]]`` is ``src[i]`` and a NULL id is ``-1``. Because
    the codes follow id order, the smallest code of a set is its smallest id."""
    enc = pa.chunked_array(src.chunks + dst.chunks,
                           type=src.type).combine_chunks().dictionary_encode()
    order = pc.sort_indices(enc.dictionary).to_numpy()
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    codes = pc.fill_null(enc.indices, -1).to_numpy().astype(np.int64)
    coded = codes >= 0
    codes[coded] = rank[codes[coded]]
    return enc.dictionary.take(pa.array(order)), codes[:len(src)], \
        codes[len(src):]


def csr(src: np.ndarray, dst: np.ndarray, n: int):
    """CSR index of the coded arcs ``src → dst`` over ``n`` nodes →
    ``(indptr, nbrs)``: node ``u``'s heads are
    ``nbrs[indptr[u]:indptr[u + 1]]``. Every ``src`` code must be ≥ 0."""
    nbrs = dst[np.argsort(src, kind="stable")]
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(src, minlength=n), out=indptr[1:])
    return indptr, nbrs
