"""Distributed deterministic corpus generation.

Spark-side wrapper over fixtures.corpus.make_doc: `spark.range(n)` → mapInArrow.
Because each doc is a pure function of (seed, idx), output is bitwise identical at any
parallelism — generation scales linearly with executors (embarrassingly parallel, no
shuffle) and the same code materializes the t1/t2/bench corpora.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..fixtures.corpus import make_doc
from .schemas import DOCS_SCHEMA


def generate_docs(spark: SparkSession, n_docs: int, seed: int = 42,
                  partitions: int | None = None, start: int = 0) -> DataFrame:
    import pyarrow as pa

    if partitions is None:
        try:
            partitions = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 8)
        except (ValueError, TypeError):  # e.g. "auto" under some AQE configs
            partitions = max(spark.sparkContext.defaultParallelism, 8)
    partitions = min(partitions, max(1, n_docs // 64) or 1)

    span_type = pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ])

    def gen(batches) -> "Iterator[pa.RecordBatch]":
        # arrow-native construction from FLAT child arrays + list offsets — no nested
        # python object tree for pyarrow to walk (2-3× faster than pa.array on a
        # list-of-list-of-dicts)
        for b in batches:
            ids = []
            kinds, texts, refs, offs = [], [], [], []
            offsets = [0]
            for idx in b.column(0).to_pylist():
                doc_id, sp = make_doc(int(idx), seed)
                ids.append(doc_id)
                for s in sp:
                    kinds.append(s["kind"])
                    texts.append(s["text"])
                    refs.append(s["media_ref"])
                    offs.append(s["offset"])
                offsets.append(len(kinds))
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(kinds, pa.string()),
                    pa.array(texts, pa.string()),
                    pa.array(refs, pa.string()),
                    pa.array(offs, pa.int32()),
                ],
                fields=list(span_type),
            )
            spans = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.string()), spans], names=["doc_id", "spans"]
            )

    # ``start`` synthesizes a DISJOINT later batch (same deterministic
    # generator, fresh doc ids) — the delta side of incremental updates
    rng = spark.range(start, start + n_docs, numPartitions=partitions)
    return rng.mapInArrow(gen, schema=DOCS_SCHEMA)


def docs_from_documents_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's flat `documents` parquet (doc_id:bigint, text:string, ...) to
    the interleaved-span `docs` shape deterministically: each document becomes one text
    span, plus a media span derived from the doc_id for every 8th doc — so the KG
    pipeline runs over driver-scaled data too."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text_span = F.struct(
        F.lit("text").alias("kind"),
        F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    media_span = F.struct(
        F.lit("image").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("media://"), F.sha1(F.col("doc_id").cast("string"))).alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    return d.select(
        # format_string, NOT lpad: lpad TRUNCATES ids longer than 8 digits (a
        # doc_id ≥ 10^8 would collide with doc_id % 10^8 and diverge from the
        # golden mirrors' f"doc-{did:08d}"), while %08d pads without truncating
        F.format_string("doc-%08d", F.col("doc_id")).alias("doc_id"),
        F.when(F.col("doc_id") % 8 == 0, F.array(text_span, media_span))
        .otherwise(F.array(text_span))
        .alias("spans"),
    )
