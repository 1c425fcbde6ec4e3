"""Tokenize operator: docs → sentences (narrow, shuffle-free).

Spark shape (SURVEY.md §2.8): ``mapInArrow`` over docs explodes text spans into
sentence rows with per-sentence token arrays, so each whole sentence rides one Arrow
row into downstream model UDFs (the reference's per-thread Tokenizer
ConsoleDemo/Program.cs:254-256 becomes partition parallelism). Media spans are not
routed through Python at all — ``media_spans()`` is a pure column projection
(posexplode + filter), which Catalyst prunes to the columns it needs.

Within one task, identical span texts are tokenized once (the per-task LRU
``arrowkernel.TaskMemo``) — the task-local analog of the reference's
thread-local tokenizer buffer reuse (Tokenizer.cs:276-284). The memo changes cost,
never output: a span's sentences are a pure function of its text, so the result is
the same under any partitioning or batching.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..tokenizer import run_simple_sents_allocate, to_pos_tagger_token
from . import arrowkernel as ak
from .schemas import SENTENCES_SCHEMA

POS_MAX_ENDING_LENGTH = 4        # ConsoleDemo/predict.json:7
NER_MAX_ENDING_LENGTH = 1_000_000  # predict_ner.json:7 (10000 ≈ whole word)


def _tokenize_text(text: str, replace_nums: bool,
                   sent_mode: str = "simple") -> list[tuple[int, int, int, list[dict]]]:
    """→ [(sent_idx, sent_start, sent_len, tokens)] for one span text.
    sent_mode='simple' (the reference's live mode) or 'full' (rule-cascade splitter)."""
    if sent_mode == "full":
        from ..tokenizer import run_full_sents_allocate

        split = run_full_sents_allocate(text, replace_nums)
    else:
        split = run_simple_sents_allocate(text, replace_nums)
    out = []
    for sent_idx, (sent, words) in enumerate(split):
        toks = []
        for t, w in enumerate(words):
            surface = text[w.start : w.start + w.length]
            toks.append({
                "tok_idx": t,
                "start": w.start,
                "length": w.length,
                "value": w.value,
                # original surface kept only when the value was rewritten (NUM
                # placeholder, punct canonicalization) — GetOriginalValue analog
                # (Tokenizer.cs:1347-1354)
                "orig": surface if surface != w.value else None,
                "input_type": w.input_type,
                "extra": w.extra,
                "ending_pos": to_pos_tagger_token(w, POS_MAX_ENDING_LENGTH),
                "ending_ner": to_pos_tagger_token(w, NER_MAX_ENDING_LENGTH),
            })
        out.append((sent_idx, sent.start, sent.length, toks))
    return out


def tokenize_docs(docs: DataFrame, replace_nums: bool = True,
                  sent_mode: str = "simple") -> DataFrame:
    """docs(doc_id, spans) → sentences(doc_id, span_idx, sent_idx, sent_start,
    sent_len, tokens). Arrow-native (mapInArrow) over the JVM-side text-span
    projection — same hot-path shape as the fused triples operator."""
    schema = to_arrow_schema(SENTENCES_SCHEMA)
    tokens_type = schema.field("tokens").type
    tok_fields = list(tokens_type.value_type)
    cap = ak.TOKENIZE_MEMO_CAP

    def run(batches) -> "Iterator[pa.RecordBatch]":
        # Memoized sentences carry their token fields as FLAT per-field lists:
        # the output batch is assembled from flat child arrays + list offsets
        # (docsgen's construction — no per-token dict tree for pyarrow to
        # walk, and memo hits extend lists C-side instead of re-walking dicts)
        memo = ak.TaskMemo(cap)
        for b in batches:
            cols: dict[str, list] = {k: [] for k in schema.names if k != "tokens"}
            tok_cols: dict[str, list] = {f.name: [] for f in tok_fields}
            tok_offsets = [0]
            for doc_id, span_idx, text in ak.iter_text_spans(b):
                sents = memo.get(text)
                if sents is None:
                    sents = [
                        (sent_idx, start, length,
                         {f: [t[f] for t in toks] for f in tok_cols}, len(toks))
                        for sent_idx, start, length, toks
                        in _tokenize_text(text, replace_nums, sent_mode)
                    ]
                    memo.put(text, sents)
                for sent_idx, start, length, fields, n_toks in sents:
                    cols["doc_id"].append(doc_id)
                    cols["span_idx"].append(span_idx)
                    cols["sent_idx"].append(sent_idx)
                    cols["sent_start"].append(start)
                    cols["sent_len"].append(length)
                    for f, values in fields.items():
                        tok_cols[f].extend(values)
                    tok_offsets.append(tok_offsets[-1] + n_toks)
            struct = pa.StructArray.from_arrays(
                [pa.array(tok_cols[f.name], f.type) for f in tok_fields],
                fields=tok_fields)
            cols["tokens"] = pa.ListArray.from_arrays(
                pa.array(tok_offsets, pa.int32()), struct, type=tokens_type)
            yield ak.record_batch(cols, schema)

    return ak.text_spans(docs).mapInArrow(run, schema=SENTENCES_SCHEMA)


def media_spans(docs: DataFrame) -> DataFrame:
    """Media passthrough — pure relational projection, no Python. Order preserved via
    (doc_id, span_idx); the per-row invariant checks reconstruct the original span
    sequence from this plus the text spans."""
    s = docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
    return s.where(F.col("span.kind") != "text").select(
        "doc_id",
        F.col("span.offset").alias("span_idx"),
        F.col("span.kind").alias("kind"),
        F.col("span.media_ref").alias("media_ref"),
    )


def text_spans(docs: DataFrame) -> DataFrame:
    s = docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
    return s.where(F.col("span.kind") == "text").select(
        "doc_id",
        F.col("span.offset").alias("span_idx"),
        F.col("span.text").alias("text"),
    )
