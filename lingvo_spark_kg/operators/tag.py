"""Tag operator: sentences → sentences + (pos_tags, ner_tags).

Spark shape: one ``mapInArrow`` pass; the model rides to executors as a broadcast
(gazetteer dict for the lexicon regimen; NumPy weight archive for the BiLSTM) and is
rehydrated once per executor process via a module-level cache — the analog of the
reference's WeakReference model cache (WebService/Infrastructure/ConcurrentFactory.cs:90-108)
and multi-device weight sync (MultiProcessorNetworkWrapper.cs:58-79). Tagging is
shuffle-free: partition parallelism replaces the reference's Parallel.For predict
(BaseSeq2SeqFramework.cs:630-703).

Long sentences follow the reference chunking semantics (>220 tokens → chunked /
≤10%-overflow truncated, SeqLabel.cs:259-311) inside BiLSTMTaggerModel.predict_tags;
the lexicon regimen is per-token and needs no chunking. Output-type correction
(Num→Numeral, Url/Email→Other, punctuation-flag→Punctuation —
PosTaggerExtensions.cs:16-59) is applied in both regimens.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (re-exported for callers)
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..model.lexicon import LexiconNer, pos_tag_word
from ..tokenizer import EWT_PUNCTUATION, IT_EMAIL, IT_NUM, IT_URL, Word
from . import arrowkernel as ak
from .schemas import TAGGED_SCHEMA


def _words_from_tokens(tokens: list[dict]) -> list[Word]:
    return [
        Word(t["start"], t["length"], t["value"], t["value"], t["input_type"], t["extra"])
        for t in tokens
    ]


def _correct_output_types(tokens: list[dict], tags: list[str]) -> list[str]:
    """SetPosTaggerOutputType correction table (PosTaggerExtensions.cs:16-59)."""
    out = list(tags)
    for i, t in enumerate(tokens):
        it = t["input_type"]
        if it == IT_NUM:
            out[i] = "Numeral"
        elif it in (IT_URL, IT_EMAIL):
            out[i] = "Other"
        elif t["extra"] & EWT_PUNCTUATION:
            out[i] = "Punctuation"
    return out


def _correct_output_types_flat(itypes: list, extras: list, lo: int, hi: int,
                               tags: list[str]) -> list[str]:
    """The same correction table over the Arrow flat-array token layout (one slice
    [lo, hi) of the batch-wide field arrays instead of a list of per-token dicts)."""
    out = list(tags)
    for i, j in enumerate(range(lo, hi)):
        it = itypes[j]
        if it == IT_NUM:
            out[i] = "Numeral"
        elif it in (IT_URL, IT_EMAIL):
            out[i] = "Other"
        elif extras[j] & EWT_PUNCTUATION:
            out[i] = "Punctuation"
    return out


def as_result_vm(tagged: DataFrame, tag_col: str = "pos_tags") -> DataFrame:
    """The reference web-service result shape as a DataFrame: per sentence, the array
    of (Word, Label) tuples (ResultVM{Sents[].Tuples[]{Word,Label}} —
    WebService/Models/VM.cs:22-46); ordering columns replace the service's
    SortedDictionary reassembly (ConcurrentFactory.cs:190-211)."""
    out = tagged.select(
        "doc_id", "span_idx", "sent_idx",
        F.zip_with(
            F.col("tokens"), F.col(tag_col),
            # Word = original surface, as the reference rebuilds it via
            # text.Substring(startIndex, length) (ConcurrentFactory.cs:136,150)
            lambda t, tag: F.struct(
                F.coalesce(t["orig"], t["value"]).alias("Word"), tag.alias("Label")
            ),
        ).alias("tuples"),
    )
    # per-document ordering only (the reference reassembles per request,
    # ConcurrentFactory.cs:190-211) — no global range-sort shuffle
    return out.repartition("doc_id").sortWithinPartitions("doc_id", "span_idx", "sent_idx")


def tag_sentences_lexicon(sentences: DataFrame, gazetteer_bc) -> DataFrame:
    """Deterministic lexicon regimen; ``gazetteer_bc`` is a Spark broadcast of
    {normalized surface → PER|ORG|LOC}. Arrow-native: token fields are read as flat
    arrays and all input columns pass through untouched (measured ~35% less
    batch-traversal overhead than the pandas object path on this nested schema)."""
    schema = to_arrow_schema(TAGGED_SCHEMA)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ner = ak.cached_from_broadcast(gazetteer_bc, LexiconNer)
        for b in batches:
            offs, f = ak.token_fields(b, ("start", "length", "value", "input_type",
                                          "extra"))
            starts, lengths, values = f["start"], f["length"], f["value"]
            itypes, extras = f["input_type"], f["extra"]
            pos_col, ner_col = [], []
            for row in range(b.num_rows):
                lo, hi = offs[row], offs[row + 1]
                words = [Word(starts[j], lengths[j], values[j], values[j],
                              itypes[j], extras[j]) for j in range(lo, hi)]
                pos = [pos_tag_word(w) for w in words]
                pos_col.append(_correct_output_types_flat(itypes, extras, lo, hi, pos))
                ner_col.append(ner.tag(words))
            yield ak.record_batch(dict(zip(b.schema.names, b.columns),
                                       pos_tags=pos_col, ner_tags=ner_col), schema)

    return sentences.mapInArrow(run, schema=TAGGED_SCHEMA)


def _probs_schema():
    from .schemas import SENTENCES_SCHEMA

    return T.StructType(SENTENCES_SCHEMA.fields + [
        T.StructField("probs", T.ArrayType(T.ArrayType(T.StructType([
            T.StructField("label", T.StringType()),
            T.StructField("prob", T.DoubleType()),
        ])))),
        T.StructField("words_in_dict_ratio", T.DoubleType()),
    ])


def tag_sentences_probs(sentences: DataFrame, model_bc, feature: str = "ending_pos",
                        backend_loader=None, encoder: str = "bilstm") -> DataFrame:
    """M9/M11: the reference's probability output shape, distributed — per token the
    FULL sorted [(class, prob)] list (softmax over the classifier head, SeqLabel.cs
    :175-218) plus the per-sentence WordsInDictRatio (share of tokens found in the
    source vocab, SeqLabel.cs:194-216), as two extra columns on the sentences frame.

    The decode is the model's batch-1 ``predict_probs`` path (the reference computes
    probabilities only on its single-sentence API), memoized per distinct feature
    sequence within the task (``arrowkernel.TaskMemo``) — web corpora are
    duplicate-heavy, and the batch-1 kernel is deterministic, so memoization changes
    cost, not results. The backend must expose ``predict_probs`` — the NumPy models
    and ``OnnxTagBackend`` both do
    (the ONNX path applies the shared ``backend.probs_from_logits`` to the
    session's bit-parity logits, pinned identical in tests)."""
    if backend_loader is None:
        from ..model.backend import numpy_backend

        backend_loader = numpy_backend(encoder)
    out_schema = _probs_schema()
    schema = to_arrow_schema(out_schema)
    cap = ak.MEMO_CAP

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        model = ak.cached_from_broadcast(model_bc, backend_loader)
        memo = ak.TaskMemo(cap)
        for b in batches:
            offs, f = ak.token_fields(b, (feature,))
            feats = f[feature]
            probs_col, ratio_col = [], []
            for row in range(b.num_rows):
                key = tuple(feats[offs[row]:offs[row + 1]])
                res = memo.get(key)
                if res is None:
                    per_tok, ratio = model.predict_probs(list(key))
                    res = ([[{"label": c, "prob": p} for c, p in ranked]
                            for ranked in per_tok], ratio)
                    memo.put(key, res)
                probs_col.append(res[0])
                ratio_col.append(res[1])
            yield ak.record_batch(dict(zip(b.schema.names, b.columns), probs=probs_col,
                                       words_in_dict_ratio=ratio_col), schema)

    return sentences.mapInArrow(run, schema=out_schema)


def tag_sentences_bilstm(sentences: DataFrame, pos_model_bc, ner_model_bc,
                         encoder: str = "bilstm", backend_loader=None) -> DataFrame:
    """DNN regimen: two tagging passes in one UDF — POS model over ending_pos features
    (MaxEndingLength=4) and NER model over ending_ner features (whole word), mirroring
    the reference's two-model service registry (pos_tagger_ru_settings.json:10-75).
    ``encoder`` selects the architecture the broadcast bytes encode — 'bilstm' or
    'transformer' (the reference's EncoderType option, Applications/Options.cs).

    ``backend_loader`` is the inference seam (model/backend.py): ``bytes →
    InferenceBackend``, rehydrated once per worker. Default = the NumPy forward pass;
    pass ``backend.onnx_backend()`` on a production image to run the same operator on
    onnxruntime — no operator changes."""
    if backend_loader is None:
        from ..model.backend import numpy_backend

        backend_loader = numpy_backend(encoder)
    # output schema = input schema + the two tag columns (not the fixed
    # TAGGED_SCHEMA): the operator passes every input column through untouched, so
    # it also works on projected frames — e.g. the distinct-tokens dim of
    # tag_sentences_bilstm_dedup
    out_schema = T.StructType(sentences.schema.fields + TAGGED_SCHEMA.fields[-2:])
    schema = to_arrow_schema(out_schema)
    cap = ak.MEMO_CAP

    def predict_unique(model, feats: list[list[str]],
                       memo: ak.TaskMemo) -> list[list[str]]:
        # per-task memo: identical feature sequences decoded once per task —
        # the DNN analog of the tokenizer operators' text memo (real web
        # corpora are duplicate-heavy; the decode is deterministic and
        # batch-invariant — the invariance tag_sentences_bilstm_dedup is
        # already pinned on — so results are identical to predicting every
        # copy). The batch's misses are decoded in ONE predict_tags call; the
        # local dict dedups them and keeps their tags even if the capped memo
        # evicts some of them before the batch is assembled.
        keys = [tuple(fs) for fs in feats]
        out = [memo.get(k) for k in keys]
        miss = {k: None for k, tags in zip(keys, out) if tags is None}
        if miss:
            for k, tags in zip(list(miss), model.predict_tags([list(k) for k in miss])):
                memo.put(k, tags)
                miss[k] = tags
            out = [miss[k] if tags is None else tags for k, tags in zip(keys, out)]
        return out

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pos_model = ak.cached_from_broadcast(pos_model_bc, backend_loader)
        ner_model = ak.cached_from_broadcast(ner_model_bc, backend_loader)
        pos_memo, ner_memo = ak.TaskMemo(cap), ak.TaskMemo(cap)
        for b in batches:
            offs, f = ak.token_fields(b, ("ending_pos", "ending_ner", "input_type",
                                          "extra"))
            ep, en = f["ending_pos"], f["ending_ner"]
            itypes, extras = f["input_type"], f["extra"]
            bounds = [(offs[r], offs[r + 1]) for r in range(b.num_rows)]
            pos_raw = predict_unique(pos_model, [ep[lo:hi] for lo, hi in bounds],
                                     pos_memo)
            ner_raw = predict_unique(ner_model, [en[lo:hi] for lo, hi in bounds],
                                     ner_memo)
            pos_col = [_correct_output_types_flat(itypes, extras, lo, hi, tags)
                       for (lo, hi), tags in zip(bounds, pos_raw)]
            yield ak.record_batch(dict(zip(b.schema.names, b.columns),
                                       pos_tags=pos_col, ner_tags=ner_raw), schema)

    return sentences.mapInArrow(run, schema=out_schema)


def tag_sentences_bilstm_dedup(sentences: DataFrame, pos_model_bc, ner_model_bc,
                               encoder: str = "bilstm",
                               backend_loader=None) -> DataFrame:
    """Corpus-GLOBAL duplicate-sentence dedup around the DNN decode: web corpora are
    duplicate-heavy (the demo corpus has ~65k distinct sentences under 4.4M sentence
    instances at 1M docs), and the decode is deterministic and batch-invariant, so
    decoding each distinct token sequence ONCE and joining the tags back is
    result-identical to decoding every instance (pinned in tests/test_round5.py).

    Shape: distinct() on the projection of the token fields the decode READS —
    (ending_pos, ending_ner, input_type, extra) per token; tags are a pure
    function of exactly these four (predict_tags consumes the two ending
    features, output-type correction M14 consumes input_type/extra), so the
    projected array is an EXACT key with no hash-collision exposure, while the
    payload fields (value, orig, offsets — the wide strings) never enter the
    dedup shuffle (guide §2.3: project before the exchange). The expensive DNN
    operator runs on the distinct dim only → equi-join back on the same
    projection computed JVM-side on the instance frame. AQE picks broadcast
    when the tagged dim is small enough and falls back to a shuffle join when
    the distinct count grows with the corpus — both sides scale. The per-task
    memo inside tag_sentences_bilstm is the task-LOCAL version of the same
    idea; this amortizes across the whole corpus at the price of one dedup
    shuffle, the right trade whenever decode ≫ shuffle (any DNN regimen).
    Identical projections ⇒ identical tags, so the join-back is exact — the
    same argument as the previous full-struct key, minus the bytes that never
    influenced the result."""
    # arrays_zip of direct field extractions, NOT transform(tokens, t ->
    # struct(...)): identical array<struct> (field names carry over from the
    # extractions), but nested-schema pruning sees through GetArrayStructFields
    # and not through a lambda — the distinct side's parquet scan then reads
    # ONLY these four token fields instead of all nine (guide §6)
    key = F.arrays_zip(
        F.col("tokens.ending_pos"), F.col("tokens.ending_ner"),
        F.col("tokens.input_type"), F.col("tokens.extra"))
    dim = tag_sentences_bilstm(sentences.select(key.alias("tokens")).distinct(),
                               pos_model_bc, ner_model_bc, encoder=encoder,
                               backend_loader=backend_loader)
    out = (sentences.withColumn("__tagkey", key)
           .join(dim.select(F.col("tokens").alias("__tagkey"),
                            "pos_tags", "ner_tags"),
                 on="__tagkey", how="left"))
    return out.select(*sentences.columns, "pos_tags", "ner_tags")
