"""Triple extraction operator + the fused docs→triples fast path.

``extract_triples_df`` maps tagged sentences to triple rows (narrow, shuffle-free).

``docs_to_triples_fused`` runs sentence-split → tokenize → tag → extract in ONE Python
pass per Arrow batch: at 100 TB the dominant cost of a chained-UDF plan is the extra
JVM↔Python Arrow round-trips per stage, so the bench path fuses them (the relational
plan around it is unchanged; checkpointed runs use the staged operators instead).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from ..model.lexicon import LexiconNer, tag_sentence
from ..model.triples import extract_triples
from ..tokenizer import Word, run_simple_sents_allocate
from .schemas import TRIPLES_SCHEMA
from .tag import _cached_from_broadcast

_COLS = ("doc_id", "span_idx", "sent_idx", "subj", "pred", "obj",
         "subj_type", "obj_type", "subj_norm", "obj_norm", "confidence")


def extract_triples_df(tagged: DataFrame) -> DataFrame:
    """tagged sentences → triples_raw rows (POS-pattern templates, model/triples.py).

    Hot-path shape (the per-stage pipeline's heaviest Python pass at 1M docs):
     * only the columns the kernel reads cross the JVM↔Python boundary —
       token VALUES are projected out of the struct JVM-side
       (``transform(tokens, t -> t.value)``), so the heavy ending/offset
       fields never ship (guide §4.1: pass only what the function needs);
     * ``mapInArrow`` with flat-array output construction (no pandas object
       tree on either side);
     * per-TASK memo keyed on (values, pos_tags, ner_tags) — the ONLY inputs
       ``extract_triples`` reads (it never touches start/length/input_type;
       the Word objects are built value-only) — so duplicate sentences
       extract once per task. Results are unchanged: the kernel is a pure
       function of the key."""
    import pyarrow as pa
    from pyspark.sql import functions as F

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

    def run(batches) -> "Iterator[pa.RecordBatch]":
        memo: dict[tuple, list] = {}
        for b in batches:
            if len(memo) > 65536:
                memo.clear()
            doc_ids = b.column(0).to_pylist()
            span_idxs = b.column(1).to_pylist()
            sent_idxs = b.column(2).to_pylist()
            values = b.column(3).to_pylist()
            pos = b.column(4).to_pylist()
            ner = b.column(5).to_pylist()
            rows: dict[str, list] = {k: [] for k in _COLS}
            for r in range(b.num_rows):
                key = (tuple(values[r]), tuple(pos[r]), tuple(ner[r]))
                triples = memo.get(key)
                if triples is None:
                    words = [Word(0, len(v), v, v, "", 0) for v in values[r]]
                    triples = extract_triples(words, pos[r], ner[r])
                    memo[key] = triples
                for tr in triples:
                    rows["doc_id"].append(doc_ids[r])
                    rows["span_idx"].append(span_idxs[r])
                    rows["sent_idx"].append(sent_idxs[r])
                    rows["subj"].append(tr.subj)
                    rows["pred"].append(tr.pred)
                    rows["obj"].append(tr.obj)
                    rows["subj_type"].append(tr.subj_type)
                    rows["obj_type"].append(tr.obj_type)
                    rows["subj_norm"].append(tr.subj_norm)
                    rows["obj_norm"].append(tr.obj_norm)
                    rows["confidence"].append(tr.confidence)
            yield pa.RecordBatch.from_pydict({
                "doc_id": pa.array(rows["doc_id"], pa.string()),
                "span_idx": pa.array(rows["span_idx"], pa.int32()),
                "sent_idx": pa.array(rows["sent_idx"], pa.int32()),
                "subj": pa.array(rows["subj"], pa.string()),
                "pred": pa.array(rows["pred"], pa.string()),
                "obj": pa.array(rows["obj"], pa.string()),
                "subj_type": pa.array(rows["subj_type"], pa.string()),
                "obj_type": pa.array(rows["obj_type"], pa.string()),
                "subj_norm": pa.array(rows["subj_norm"], pa.string()),
                "obj_norm": pa.array(rows["obj_norm"], pa.string()),
                "confidence": pa.array(rows["confidence"], pa.float64()),
            })

    return proj.mapInArrow(run, schema=TRIPLES_SCHEMA)


def docs_to_triples_fused(docs: DataFrame, gazetteer_bc,
                          replace_nums: bool = True) -> DataFrame:
    """docs(doc_id, spans) → triples_raw in one Python pass (lexicon regimen).

    Hot-path engineering (this is the flagship 100 TB job):
     * media spans are dropped and the span struct is pruned to (text, offset)
       JVM-side (codegen'd ``filter``+``transform`` higher-order functions) — only
       text payloads cross the JVM↔Python boundary;
     * ``mapInArrow`` instead of ``mapInPandas``: the input ListArray<Struct> is
       walked via flat Arrow children + list offsets (no per-row dict materialization),
       and the output batch is built as flat Arrow arrays — measured ~35% lower
       batch-traversal overhead than the pandas object path;
     * per-task memo: identical span texts are tokenized/tagged once per task, across
       its Arrow batches (the task-local analog of the reference's thread-local buffer
       reuse, Tokenizer.cs:276-284; cleared when it outgrows its cap). A span's
       triples are a pure function of its text, so the memo changes only cost and
       output stays partitioning-invariant.
    """
    import pyarrow as pa
    from pyspark.sql import functions as F

    docs = docs.select(
        "doc_id",
        F.expr(
            "transform(filter(spans, s -> s.kind = 'text' AND s.text IS NOT NULL),"
            " s -> struct(s.text AS text, s.offset AS offset))"
        ).alias("spans"),
    ).where(F.size("spans") > 0)

    def run(batches) -> "Iterator[pa.RecordBatch]":
        ner = _cached_from_broadcast(gazetteer_bc, LexiconNer)
        # per-TASK memo (was per-batch): identical span texts are tokenized/
        # tagged once per task instead of once per Arrow batch — results are
        # unchanged (the kernel is a pure function of the text), only cost is;
        # duplicate-heavy corpora hit across batch boundaries constantly. The
        # cap bounds worker memory on mostly-unique corpora (guide §4.5:
        # amortize heavy per-row work across the whole task).
        memo: dict[str, list] = {}
        for b in batches:
            if len(memo) > 65536:
                memo.clear()
            rows: dict[str, list] = {k: [] for k in _COLS}
            doc_ids = b.column(0).to_pylist()
            spans_col = b.column(1)
            if isinstance(spans_col, pa.ChunkedArray):  # pragma: no cover
                spans_col = spans_col.combine_chunks()
            if spans_col.null_count:  # upstream size(spans)>0 filter removes nulls
                raise ValueError("docs.spans must not contain null rows")
            # .values (NOT .flatten()) so indexes line up with the raw offsets buffer
            # even if the batch arrives sliced — flatten() rebases, offsets don't
            flat = spans_col.values
            texts = flat.field("text").to_pylist()
            offs = flat.field("offset").to_pylist()
            list_offsets = spans_col.offsets.to_pylist()
            for row, doc_id in enumerate(doc_ids):
                for j in range(list_offsets[row], list_offsets[row + 1]):
                    text = texts[j]
                    per_text = memo.get(text)
                    if per_text is None:
                        per_text = []
                        for sent_idx, (sent, words) in enumerate(
                            run_simple_sents_allocate(text, replace_nums)
                        ):
                            pos, nert = tag_sentence(words, ner)
                            triples = extract_triples(words, pos, nert)
                            if triples:
                                per_text.append((sent_idx, triples))
                        memo[text] = per_text
                    span_idx = offs[j]
                    for sent_idx, triples in per_text:
                        for tr in triples:
                            rows["doc_id"].append(doc_id)
                            rows["span_idx"].append(span_idx)
                            rows["sent_idx"].append(sent_idx)
                            rows["subj"].append(tr.subj)
                            rows["pred"].append(tr.pred)
                            rows["obj"].append(tr.obj)
                            rows["subj_type"].append(tr.subj_type)
                            rows["obj_type"].append(tr.obj_type)
                            rows["subj_norm"].append(tr.subj_norm)
                            rows["obj_norm"].append(tr.obj_norm)
                            rows["confidence"].append(tr.confidence)
            yield pa.RecordBatch.from_pydict({
                "doc_id": pa.array(rows["doc_id"], pa.string()),
                "span_idx": pa.array(rows["span_idx"], pa.int32()),
                "sent_idx": pa.array(rows["sent_idx"], pa.int32()),
                "subj": pa.array(rows["subj"], pa.string()),
                "pred": pa.array(rows["pred"], pa.string()),
                "obj": pa.array(rows["obj"], pa.string()),
                "subj_type": pa.array(rows["subj_type"], pa.string()),
                "obj_type": pa.array(rows["obj_type"], pa.string()),
                "subj_norm": pa.array(rows["subj_norm"], pa.string()),
                "obj_norm": pa.array(rows["obj_norm"], pa.string()),
                "confidence": pa.array(rows["confidence"], pa.float64()),
            })

    return docs.mapInArrow(run, schema=TRIPLES_SCHEMA)
