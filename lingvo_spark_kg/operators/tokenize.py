"""Tokenize operator: docs → sentences (narrow, shuffle-free).

Spark shape (SURVEY.md §2.8): ``mapInPandas`` over docs explodes text spans into
sentence rows with per-sentence token arrays, so each whole sentence rides one Arrow
row into downstream model UDFs (the reference's per-thread Tokenizer
ConsoleDemo/Program.cs:254-256 becomes partition parallelism). Media spans are not
routed through Python at all — ``media_spans()`` is a pure column projection
(posexplode + filter), which Catalyst prunes to the columns it needs.

Within one task, identical span texts are tokenized once (a per-task dict memo,
cleared when it outgrows its cap) — the task-local analog of the reference's
thread-local tokenizer buffer reuse (Tokenizer.cs:276-284). The memo changes cost,
never output: a span's sentences are a pure function of its text, so the result is
the same under any partitioning or batching.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tokenizer import run_simple_sents_allocate, to_pos_tagger_token
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
    sent_len, tokens). Arrow-native (mapInArrow) with JVM-side media-span pruning —
    same hot-path shape as the fused triples operator."""
    import pyarrow as pa

    docs = docs.select(
        "doc_id",
        F.expr(
            "transform(filter(spans, s -> s.kind = 'text' AND s.text IS NOT NULL),"
            " s -> struct(s.text AS text, s.offset AS offset))"
        ).alias("spans"),
    ).where(F.size("spans") > 0)

    token_type = pa.struct([
        ("tok_idx", pa.int32()), ("start", pa.int32()), ("length", pa.int32()),
        ("value", pa.string()), ("orig", pa.string()), ("input_type", pa.string()),
        ("extra", pa.int32()), ("ending_pos", pa.string()), ("ending_ner", pa.string()),
    ])

    _TOK_FIELDS = ("tok_idx", "start", "length", "value", "orig", "input_type",
                   "extra", "ending_pos", "ending_ner")
    _TOK_PA = {"tok_idx": pa.int32(), "start": pa.int32(), "length": pa.int32(),
               "value": pa.string(), "orig": pa.string(),
               "input_type": pa.string(), "extra": pa.int32(),
               "ending_pos": pa.string(), "ending_ner": pa.string()}

    def run(batches) -> "Iterator[pa.RecordBatch]":
        # per-TASK memo (was per-batch): identical span texts tokenize once
        # per task — output is unchanged (pure function of the text), the
        # memo only changes cost; capped so mostly-unique corpora stay bounded.
        # Memoized sentences carry their token fields as FLAT per-field lists:
        # the output batch is assembled from flat child arrays + list offsets
        # (docsgen's construction — no per-token dict tree for pyarrow to
        # walk, and memo hits extend lists C-side instead of re-walking dicts)
        memo: dict[str, list] = {}
        for b in batches:
            if len(memo) > 16384:
                memo.clear()
            cols: dict[str, list] = {k: [] for k in
                                     ("doc_id", "span_idx", "sent_idx", "sent_start",
                                      "sent_len")}
            tok_cols: dict[str, list] = {k: [] for k in _TOK_FIELDS}
            tok_offsets = [0]
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
                    sents = memo.get(text)
                    if sents is None:
                        sents = [
                            (sent_idx, start, length,
                             {f: [t[f] for t in toks] for f in _TOK_FIELDS},
                             len(toks))
                            for sent_idx, start, length, toks
                            in _tokenize_text(text, replace_nums, sent_mode)
                        ]
                        memo[text] = sents
                    for sent_idx, start, length, fields, n_toks in sents:
                        cols["doc_id"].append(doc_id)
                        cols["span_idx"].append(offs[j])
                        cols["sent_idx"].append(sent_idx)
                        cols["sent_start"].append(start)
                        cols["sent_len"].append(length)
                        for f in _TOK_FIELDS:
                            tok_cols[f].extend(fields[f])
                        tok_offsets.append(tok_offsets[-1] + n_toks)
            struct = pa.StructArray.from_arrays(
                [pa.array(tok_cols[f], _TOK_PA[f]) for f in _TOK_FIELDS],
                fields=list(token_type))
            tokens_arr = pa.ListArray.from_arrays(
                pa.array(tok_offsets, pa.int32()), struct)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols["doc_id"], pa.string()),
                    pa.array(cols["span_idx"], pa.int32()),
                    pa.array(cols["sent_idx"], pa.int32()),
                    pa.array(cols["sent_start"], pa.int32()),
                    pa.array(cols["sent_len"], pa.int32()),
                    tokens_arr,
                ],
                names=["doc_id", "span_idx", "sent_idx", "sent_start", "sent_len", "tokens"],
            )

    return docs.mapInArrow(run, schema=SENTENCES_SCHEMA)


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
