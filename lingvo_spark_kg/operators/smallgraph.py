"""The shared pieces of the driver-resident graph kernels.

A graph operator whose edge frame fits the broadcast budget
(:func:`fits_broadcast`) collects it once through Arrow, encodes the node ids
to dense codes (:func:`encode`), runs a vectorized numpy kernel on the
driver and returns its result as a LocalRelation (:func:`id_frame`); over the
budget it keeps its distributed Spark loop. The kernels themselves live next
to their Spark loops: ``graph._reach_arrow`` and
``canonicalize._components_arrow``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type


def id_frame(spark, id_type: T.DataType, **cols) -> DataFrame:
    """A literal frame of node-id columns, each a Python list or an Arrow
    array, built from a ``pyarrow.Table``. The plan is a LocalRelation, so
    using the frame runs no job and starts no Python worker; a list-built
    frame is a Python-RDD scan that pays a worker round trip per use."""
    at = to_arrow_type(id_type)
    table = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v, type=at)
                      for k, v in cols.items()})
    return spark.createDataFrame(
        table, T.StructType([T.StructField(k, id_type) for k in cols]))


def fits_broadcast(df: DataFrame) -> bool:
    """Whether the optimizer's size estimate of ``df`` is within
    ``spark.sql.autoBroadcastJoinThreshold`` — the budget under which Spark
    itself collects a join side through the driver to broadcast it (-1, the
    off switch, admits nothing; an unknown size estimates as huge)."""
    jss = df.sparkSession._jsparkSession
    budget = jss.sessionState().conf().autoBroadcastJoinThreshold()
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() \
        <= budget


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
