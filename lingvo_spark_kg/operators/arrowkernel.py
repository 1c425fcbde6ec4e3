"""The one boundary every Python text kernel crosses (``mapInArrow``).

The text operators (tokenize, tag, triples, mentions, URL/PII passes) share one
shape: a JVM-side projection that ships only what the kernel reads, a walk over the
flat Arrow children of each input batch, a per-task memo of a pure per-key kernel,
and an output batch typed from the operator's Spark schema. Those pieces live here
once:

* :func:`text_spans` — the docs projection down to ``(doc_id, [(text, offset)])``;
* :func:`iter_text_spans` / :func:`token_fields` — the span and token walks;
* :class:`TaskMemo` — the one memo policy: per task, LRU, hard cap per insert;
* :func:`record_batch` / :func:`rows_batch` — the output batch, typed by the
  Arrow form of the operator's Spark schema (``to_arrow_schema``, once per operator);
* :func:`cached_from_broadcast` — the once-per-worker model rehydration.

A memo changes cost, never output: every memoized kernel is a pure function of its
key, so results are the same under any partitioning, batching or cap.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# per-task memo entries; each kernel reads its cap on the driver when it builds its
# frame, so a test can shrink it by patching the module attribute
MEMO_CAP = 65_536
TOKENIZE_MEMO_CAP = 16_384  # an entry holds every token field of a span's sentences


def text_spans(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) → (doc_id, spans: array<struct<text, offset>>): the
    non-NULL text spans of each doc, docs without one dropped. Media spans never
    reach Python. The span fields are zipped from direct extractions
    (``spans.kind``), not read inside a lambda over ``spans``: nested-schema pruning
    sees through the extractions, so a parquet docs scan skips ``media_ref``."""
    zipped = F.arrays_zip(F.col("spans.kind"), F.col("spans.text"),
                          F.col("spans.offset"))
    texts = F.filter(zipped, lambda s: (s["kind"] == "text") & s["text"].isNotNull())
    spans = F.transform(texts, lambda s: F.struct(s["text"].alias("text"),
                                                  s["offset"].alias("offset")))
    return docs.select("doc_id", spans.alias("spans")).where(F.size("spans") > 0)


def iter_text_spans(batch: pa.RecordBatch) -> Iterator[tuple]:
    """(doc_id, span_idx, text) for every span of a :func:`text_spans` batch."""
    spans = batch.column(1)
    if spans.null_count:  # text_spans' size(spans) > 0 filter removes null rows
        raise ValueError("docs.spans must not contain null rows")
    # .values (NOT .flatten()) so indexes line up with the raw offsets buffer
    # even if the batch arrives sliced — flatten() rebases, offsets don't
    flat = spans.values
    texts = flat.field("text").to_pylist()
    offs = flat.field("offset").to_pylist()
    bounds = spans.offsets.to_pylist()
    for row, doc_id in enumerate(batch.column(0).to_pylist()):
        for j in range(bounds[row], bounds[row + 1]):
            yield doc_id, offs[j], texts[j]


def token_fields(batch: pa.RecordBatch, names: tuple[str, ...]):
    """(list_offsets, {field: flat values list}) for the batch's ``tokens`` column;
    row r's tokens are ``[offs[r], offs[r + 1])`` of each list. ``.values``, not
    ``.flatten()``, for the same sliced-batch reason as :func:`iter_text_spans`."""
    tokens = batch.column("tokens")
    flat = tokens.values
    return tokens.offsets.to_pylist(), {n: flat.field(n).to_pylist() for n in names}


class TaskMemo:
    """Per-task LRU memo with a hard cap: ``len`` never exceeds ``cap``. A hit
    becomes the most recently used entry; a ``put`` into a full memo evicts the
    least recently used one. An OrderedDict, not a plain dict: evicting a plain
    dict's first key (``next(iter(d))``) scans the holes earlier deletes leave at
    the front, which measured O(cap) per eviction on a mostly-unique stream."""

    __slots__ = ("cap", "_d")

    def __init__(self, cap: int):
        self.cap = cap
        self._d: OrderedDict = OrderedDict()

    def __len__(self) -> int:
        return len(self._d)

    def get(self, key):
        """The memoized value (never None), or None on a miss."""
        value = self._d.get(key)
        if value is not None:
            self._d.move_to_end(key)
        return value

    def put(self, key, value) -> None:
        if len(self._d) >= self.cap:
            self._d.popitem(last=False)
        self._d[key] = value


def record_batch(columns: dict, schema: pa.Schema) -> pa.RecordBatch:
    """The output batch: ``columns`` maps each field of ``schema`` to a list of
    Python values or to an Arrow array (passed through as-is when its type matches)."""
    return pa.RecordBatch.from_pydict(columns, schema=schema)


def rows_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """:func:`record_batch` from row tuples in ``schema`` field order."""
    cols = zip(*rows) if rows else [()] * len(schema)
    return record_batch(dict(zip(schema.names, cols)), schema)


_MODEL_CACHE: dict[object, object] = {}
_MODEL_CACHE_MAX = 16


def _bc_key(bc) -> object:
    """Stable cache key for a Spark broadcast. ``id(bc)`` is unsafe on executors: each
    task deserializes a fresh handle (so the cache never hits and grows unboundedly)
    and a GC'd handle's id can be recycled by a DIFFERENT broadcast, silently serving a
    stale model. ``Broadcast._path`` is the per-broadcast spill file — unique per
    broadcast and identical for every handle of it within a worker process (executor
    handles come from the bid-keyed _broadcastRegistry). A handle without ``_path``
    (spark.io.encryption.enabled executors decrypt eagerly and never spill) returns
    None — the caller then rebuilds per task (correct, just uncached) instead of
    either crashing the job or degrading to the recycled-``id()`` stale-hit hazard
    this function exists to prevent."""
    return getattr(bc, "_path", None)


def cached_from_broadcast(bc, build):
    """``build(bc.value)`` once per worker process (bounded FIFO, so long-lived
    workers that see many distinct broadcasts don't leak)."""
    key = _bc_key(bc)
    if key is None:  # no stable per-broadcast key available (encrypted handles)
        return build(bc.value)
    m = _MODEL_CACHE.get(key)
    if m is None:
        while len(_MODEL_CACHE) >= _MODEL_CACHE_MAX:
            _MODEL_CACHE.pop(next(iter(_MODEL_CACHE)))
        m = build(bc.value)
        _MODEL_CACHE[key] = m
    return m
