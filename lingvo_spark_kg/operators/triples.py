"""Triple extraction operator + the fused docs→triples fast path.

``extract_triples_df`` maps tagged sentences to triple rows (narrow, shuffle-free).

``docs_to_triples_fused`` runs sentence-split → tokenize → tag → extract in ONE Python
pass per Arrow batch: at 100 TB the dominant cost of a chained-UDF plan is the extra
JVM↔Python Arrow round-trips per stage, so the bench path fuses them (the relational
plan around it is unchanged; checkpointed runs use the staged operators instead).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..model.lexicon import LexiconNer, tag_sentence
from ..model.triples import extract_triples
from ..tokenizer import Word, run_simple_sents_allocate
from . import arrowkernel as ak
from .schemas import TRIPLES_SCHEMA


def value_words(values: list[str]) -> list[Word]:
    """Value-only Words: all that ``extract_triples``/``merge_bio_spans`` read."""
    return [Word(0, len(v), v, v, "", 0) for v in values]


def extract_triples_df(tagged: DataFrame) -> DataFrame:
    """tagged sentences → triples_raw rows (POS-pattern templates, model/triples.py).

    Hot-path shape (the per-stage pipeline's heaviest Python pass at 1M docs):
     * only the columns the kernel reads cross the JVM↔Python boundary —
       token VALUES are projected out of the struct JVM-side, so the heavy
       ending/offset fields never ship (guide §4.1: pass only what the
       function needs);
     * ``mapInArrow`` with flat-array output construction (no pandas object
       tree on either side);
     * per-task memo keyed on (values, pos_tags, ner_tags) — the ONLY inputs
       ``extract_triples`` reads (it never touches start/length/input_type;
       the Word objects are built value-only) — so duplicate sentences
       extract once per task. Results are unchanged: the kernel is a pure
       function of the key."""
    # tokens.value (GetArrayStructFields), NOT transform(tokens, t -> t.value):
    # identical result (array<string> of the value fields, null-for-null), but
    # nested-schema pruning sees through the direct field extraction and NOT
    # through a lambda — with transform the parquet scan decoded ALL NINE
    # token fields (verified in ReadSchema) although only value is used;
    # now the scan reads tokens.value alone (guide §6: verify pruning reaches
    # the scan)
    proj = tagged.select(
        "doc_id", "span_idx", "sent_idx",
        F.col("tokens.value").alias("values"),
        "pos_tags", "ner_tags")
    schema = to_arrow_schema(TRIPLES_SCHEMA)
    cap = ak.MEMO_CAP

    def run(batches) -> "Iterator[pa.RecordBatch]":
        memo = ak.TaskMemo(cap)
        for b in batches:
            rows: list[tuple] = []
            for doc_id, span_idx, sent_idx, values, pos, ner in zip(
                    *(c.to_pylist() for c in b.columns)):
                key = (tuple(values), tuple(pos), tuple(ner))
                triples = memo.get(key)
                if triples is None:
                    triples = extract_triples(value_words(values), pos, ner)
                    memo.put(key, triples)
                rows += [(doc_id, span_idx, sent_idx, *tr) for tr in triples]
            yield ak.rows_batch(rows, schema)

    return proj.mapInArrow(run, schema=TRIPLES_SCHEMA)


def docs_to_triples_fused(docs: DataFrame, gazetteer_bc,
                          replace_nums: bool = True) -> DataFrame:
    """docs(doc_id, spans) → triples_raw in one Python pass (lexicon regimen).

    Hot-path engineering (this is the flagship 100 TB job):
     * media spans are dropped and the span struct is pruned to (text, offset)
       JVM-side (``arrowkernel.text_spans``) — only text payloads cross the
       JVM↔Python boundary;
     * ``mapInArrow`` instead of ``mapInPandas``: the input ListArray<Struct> is
       walked via flat Arrow children + list offsets (no per-row dict materialization),
       and the output batch is built as flat Arrow arrays — measured ~35% lower
       batch-traversal overhead than the pandas object path;
     * per-task memo: identical span texts are tokenized/tagged once per task, across
       its Arrow batches (the task-local analog of the reference's thread-local buffer
       reuse, Tokenizer.cs:276-284; LRU, hard-capped). A span's triples are a pure
       function of its text, so the memo changes only cost and output stays
       partitioning-invariant.
    """
    schema = to_arrow_schema(TRIPLES_SCHEMA)
    cap = ak.MEMO_CAP

    def run(batches) -> "Iterator[pa.RecordBatch]":
        ner = ak.cached_from_broadcast(gazetteer_bc, LexiconNer)
        memo = ak.TaskMemo(cap)
        for b in batches:
            rows: list[tuple] = []
            for doc_id, span_idx, text in ak.iter_text_spans(b):
                per_text = memo.get(text)
                if per_text is None:
                    # (sent_idx, *triple) for every triple of the span's sentences
                    per_text = [
                        (sent_idx, *tr)
                        for sent_idx, (_, words) in enumerate(
                            run_simple_sents_allocate(text, replace_nums))
                        for tr in extract_triples(words, *tag_sentence(words, ner))
                    ]
                    memo.put(text, per_text)
                rows += [(doc_id, span_idx, *t) for t in per_text]
            yield ak.rows_batch(rows, schema)

    return ak.text_spans(docs).mapInArrow(run, schema=TRIPLES_SCHEMA)
