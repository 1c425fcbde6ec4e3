"""Seeded input corpora for the benchmark, written to parquet with pyarrow.

Two corpus kinds, both in the pipeline's ``docs`` schema
(doc_id, spans: list<struct<kind, text, media_ref, offset>>):

* ``pool`` — ``fixtures.corpus.make_doc``, the per-document function that
  ``operators.docsgen.generate_docs`` maps over ``spark.range``: 1-3 sentences
  drawn Zipf(1.2) from a 40-sentence pool, so texts repeat heavily and the
  per-task text memos hit.
* ``unique`` — templated sentences carrying doc-unique numbers, with entity
  surfaces drawn Zipf-skewed from the ``make_aliases`` dictionary and about
  20% of text spans taken verbatim from the pool as repeated boilerplate.
  Almost every text is distinct, so the memos miss, and thousands of entities
  reach linking, canonicalization and the graph, with one hub entity on top.

Generation runs in the benchmark process, not in Spark, and writes one
parquet file with fixed settings, so the same (kind, n_docs, seed, start)
gives a byte-identical file.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from lingvo_spark_kg.fixtures.corpus import (MEDIA_KINDS, POOL_ENTITIES,
                                             SENTENCE_POOL, make_doc)

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_ARROW_SCHEMA = pa.schema([("doc_id", pa.string()),
                               ("spans", pa.list_(SPAN_TYPE))])

# synthetic alias surfaces "синтетик{k}" exist for k < 5000 in make_aliases'
# default dictionary; the unique corpus draws its entities from them plus the
# pool entities' own surfaces
N_SYNTHETIC = 5000
_VERBS = ("возглавлял", "заключила", "передала", "подписал", "направило",
          "посетил", "купил", "продал", "поддержал", "проверил", "нанял",
          "оценил")
_NOUNS = ("договор", "иск", "отчет", "контракт", "приказ", "акт")
_ZIPF_A = 1.3


def _entity_surfaces() -> list[str]:
    # hub first: rank 0 is the most frequent draw
    out = [surfaces[0] for _, _, surfaces in POOL_ENTITIES]
    out += [f"синтетик{k}" for k in range(N_SYNTHETIC)]
    return out


_SURFACES = _entity_surfaces()


def _zipf_pick(rng: np.random.Generator, n: int) -> int:
    while True:
        z = int(rng.zipf(_ZIPF_A))
        if z <= n:
            return z - 1


def _unique_sentence(rng: np.random.Generator, doc_idx: int, k: int) -> str:
    e = [_SURFACES[_zipf_pick(rng, len(_SURFACES))] for _ in range(3)]
    v1, v2 = (_VERBS[_zipf_pick(rng, len(_VERBS))] for _ in range(2))
    n1, n2 = (_NOUNS[int(rng.integers(0, len(_NOUNS)))] for _ in range(2))
    num = doc_idx * 16 + k
    return (f"{e[0]} {v1} {n1} № {num} с {e[1]} и {v2} "
            f"{int(rng.integers(2, 999))} {n2} {e[2]}.")


def make_unique_doc(idx: int, seed: int) -> tuple[str, list[dict]]:
    """One mostly-unique document: a pure function of (seed, idx)."""
    rng = np.random.default_rng([seed, idx, 7])
    spans: list[dict] = []
    n_sent = 0
    for off in range(int(rng.integers(1, 6))):
        if rng.random() < 0.8:
            if rng.random() < 0.2:
                text = SENTENCE_POOL[_zipf_pick(rng, len(SENTENCE_POOL))]
            else:
                parts = []
                for _ in range(int(rng.integers(1, 3))):
                    parts.append(_unique_sentence(rng, idx, n_sent))
                    n_sent += 1
                text = " ".join(parts)
            spans.append({"kind": "text", "text": text, "media_ref": None,
                          "offset": off})
        else:
            raw = str(rng.integers(0, 2**62)).encode()
            spans.append({"kind": MEDIA_KINDS[int(rng.integers(0, 3))],
                          "text": None,
                          "media_ref": "media://" + hashlib.sha1(raw).hexdigest(),
                          "offset": off})
    return f"doc-{idx:08d}", spans


GENERATORS = {"pool": make_doc, "unique": make_unique_doc}


def docs_table(kind: str, n_docs: int, seed: int, start: int = 0) -> pa.Table:
    make = GENERATORS[kind]
    ids, kinds, texts, refs, offs, offsets = [], [], [], [], [], [0]
    for idx in range(start, start + n_docs):
        doc_id, spans = make(idx, seed)
        ids.append(doc_id)
        for s in spans:
            kinds.append(s["kind"])
            texts.append(s["text"])
            refs.append(s["media_ref"])
            offs.append(s["offset"])
        offsets.append(len(kinds))
    struct = pa.StructArray.from_arrays(
        [pa.array(kinds, pa.string()), pa.array(texts, pa.string()),
         pa.array(refs, pa.string()), pa.array(offs, pa.int32())],
        fields=list(SPAN_TYPE))
    spans_arr = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)
    return pa.Table.from_arrays([pa.array(ids, pa.string()), spans_arr],
                                schema=DOCS_ARROW_SCHEMA)


def write_docs(path: str, kind: str, n_docs: int, seed: int,
               start: int = 0) -> str:
    """Write the corpus to ``path`` and return its sha256 (the fingerprint)."""
    pq.write_table(docs_table(kind, n_docs, seed, start), path,
                   compression="snappy", row_group_size=1 << 20)
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()
