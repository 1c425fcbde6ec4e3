"""The shared Arrow-kernel boundary (operators/arrowkernel.py): the per-task LRU memo
policy, and the text kernels built on it returning the same rows under any Arrow
batch size, input partitioning or memo cap."""

from __future__ import annotations

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from lingvo_spark_kg.operators import arrowkernel as ak


def test_task_memo_len_never_exceeds_cap():
    memo = ak.TaskMemo(8)
    for i in range(100):
        memo.put(i, [i])
        assert len(memo) <= 8
        if i % 3 == 0:
            memo.get(i // 2)
    assert len(memo) == 8


def test_task_memo_keeps_a_recurring_key_on_a_unique_stream():
    """More than ``cap`` distinct keys stream through, with one hot key every
    ``cap // 2`` inserts: LRU keeps the hot key, so every recurrence after the
    first hits (a clear-all memo would miss it after each clear). Every value
    served equals the kernel's own result."""
    cap = 64
    memo = ak.TaskMemo(cap)
    calls: list[str] = []

    def kernel(key: str) -> list[str]:
        calls.append(key)
        return [key.upper()]

    hot_lookups = hot_hits = 0
    for i in range(20 * cap):
        key = "hot" if i % (cap // 2) == 0 else f"k{i}"
        value = memo.get(key)
        if key == "hot":
            hot_lookups += 1
            hot_hits += value is not None
        if value is None:
            value = kernel(key)
            memo.put(key, value)
        assert value == [key.upper()]
        assert len(memo) <= cap
    assert hot_lookups == 40 and hot_hits == hot_lookups - 1
    assert calls.count("hot") == 1


def test_task_memo_evicts_least_recently_used():
    memo = ak.TaskMemo(2)
    memo.put("a", 1)
    memo.put("b", 2)
    assert memo.get("a") == 1  # a is now the most recent
    memo.put("c", 3)           # evicts b
    assert memo.get("b") is None and memo.get("a") == 1 and memo.get("c") == 3


def _signature(df) -> tuple[int, int]:
    """Order-independent (row count, sum of row hashes) of a frame."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(*df.columns).cast("decimal(20,0)")).alias("h")
                 ).first()
    return row["n"], int(row["h"] or 0)


@pytest.fixture(scope="module")
def kernel_inputs(spark, gaz_bc):
    """The sf0.001 docs plus the materialized inputs of the sentence-level kernels,
    built once at the session's default Arrow batch size."""
    import __spark_entry__ as e
    from lingvo_spark_kg.operators.tag import tag_sentences_lexicon
    from lingvo_spark_kg.operators.tokenize import text_spans, tokenize_docs

    docs = e._synthetic_docs(spark, SF_DIR)
    sentences = tokenize_docs(docs).localCheckpoint()
    tagged = tag_sentences_lexicon(sentences, gaz_bc).localCheckpoint()
    return {"docs": docs, "spans": text_spans(docs).localCheckpoint(),
            "sentences": sentences, "tagged": tagged}


def _kernels(spark, gaz_bc):
    from lingvo_spark_kg.model.pinned import pinned_tagger_models
    from lingvo_spark_kg.operators.mentions import ner_mentions
    from lingvo_spark_kg.operators.tag import tag_sentences_probs
    from lingvo_spark_kg.operators.textstats import extract_urls, redact_pii
    from lingvo_spark_kg.operators.tokenize import tokenize_docs
    from lingvo_spark_kg.operators.triples import (docs_to_triples_fused,
                                                   extract_triples_df)

    pos_bc = spark.sparkContext.broadcast(pinned_tagger_models()[0].to_bytes())
    return {
        "tokenize_docs": ("docs", tokenize_docs),
        "docs_to_triples_fused": ("docs", lambda d: docs_to_triples_fused(d, gaz_bc)),
        "extract_triples_df": ("tagged", extract_triples_df),
        "extract_urls": ("spans", extract_urls),
        "redact_pii": ("spans", redact_pii),
        "ner_mentions": ("tagged", ner_mentions),
        "tag_sentences_probs": ("sentences", lambda s: tag_sentences_probs(s, pos_bc)),
    }


def test_text_kernels_invariant_to_batching_partitioning_and_memo_cap(
        spark, gaz_bc, kernel_inputs, monkeypatch):
    """Each ported kernel's output hashes the same with Arrow batches of 1 and 2048
    rows, with its input in 1 and in 7 partitions, and with every memo cap at 1."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    kernels = _kernels(spark, gaz_bc)
    runs = [(batch, parts, False) for batch in (1, 2048) for parts in (1, 7)]
    runs.append((2048, 1, True))
    sigs: dict[str, set] = {name: set() for name in kernels}
    try:
        for batch, parts, cap_one in runs:
            spark.conf.set(conf, str(batch))
            with monkeypatch.context() as m:
                if cap_one:
                    m.setattr(ak, "MEMO_CAP", 1)
                    m.setattr(ak, "TOKENIZE_MEMO_CAP", 1)
                for name, (src, kernel) in kernels.items():
                    out = kernel(kernel_inputs[src].repartition(parts))
                    sigs[name].add(_signature(out))
    finally:
        spark.conf.set(conf, saved)
    for name, seen in sigs.items():
        assert len(seen) == 1, (name, seen)
        assert next(iter(seen))[0] > 0, name  # every kernel emits rows here
