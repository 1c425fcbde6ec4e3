"""The shared pieces of the driver-resident graph kernels.

A graph operator whose edge frame fits the broadcast budget
(:func:`fits_broadcast`) collects it once through Arrow, encodes the node ids
to dense codes (:func:`encode`), runs a vectorized numpy kernel on the
driver and returns its result as a LocalRelation (:func:`id_frame`); over the
budget it keeps its distributed Spark loop. The kernels themselves live next
to their Spark loops: ``graph._reach_arrow`` and
``canonicalize._components_arrow``. ``KgPipeline.table("edges")`` uses the
same gate, :data:`ONE_PARTITION_ROWS` and :func:`local_frame` to serve lookups
from a session-resident copy of a small committed edges table.
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


def fits_broadcast(df: DataFrame) -> bool:
    """Whether the optimizer's size estimate of ``df`` is within
    :func:`broadcast_budget` (an unknown size estimates as huge)."""
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() \
        <= broadcast_budget(df.sparkSession)


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
