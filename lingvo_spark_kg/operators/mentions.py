"""NER mention extraction: all BIO entity spans from tagged sentences.

Complements the triples-driven mention set: entity linking / node building can consume
EVERY recognized entity span, not just spans that participate in a relation template
(isolated mentions become degree-0 nodes with lineage). Narrow mapInArrow over tagged
sentences; dedup + counting happens in the downstream groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..model.triples import merge_bio_spans
from . import arrowkernel as ak
from .triples import value_words

MENTIONS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_idx", T.IntegerType()),
    T.StructField("sent_idx", T.IntegerType()),
    T.StructField("start_tok", T.IntegerType()),
    T.StructField("end_tok", T.IntegerType()),
    T.StructField("surface", T.StringType()),
    T.StructField("mention_norm", T.StringType()),
    T.StructField("mention_type", T.StringType()),
])


def ner_mentions(tagged: DataFrame) -> DataFrame:
    """tagged(doc_id, span_idx, sent_idx, tokens, ner_tags, ...) → one row per BIO
    entity span. Only the token values cross into Python (``tokens.value``
    projected JVM-side): BIO merging reads nothing else."""
    proj = tagged.select("doc_id", "span_idx", "sent_idx",
                         F.col("tokens.value").alias("values"), "ner_tags")
    schema = to_arrow_schema(MENTIONS_SCHEMA)

    def run(batches):
        for b in batches:
            rows: list[tuple] = []
            for d, sp, si, values, tags in zip(*(c.to_pylist() for c in b.columns)):
                rows += [(d, sp, si, *span)
                         for span in merge_bio_spans(value_words(values), tags)]
            yield ak.rows_batch(rows, schema)

    return proj.mapInArrow(run, schema=MENTIONS_SCHEMA)
