"""Text-analysis operators over a flat document table (doc_id, text, ...).

Training-data-pipeline operators (language-ID, quality scoring, token counting,
fingerprinting). All four are pure Catalyst column expressions — no Python in the hot
path, fully pushdown/prune/codegen-friendly — and each has an exact ANSI-SQL oracle
(see __spark_entry__.oracle_sql) because the expressions are deterministic and
engine-portable (regexp over explicit classes, md5, arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import arrowkernel as ak

# Java \s ≡ [ \t\n\x0B\f\r] exactly; RE2 (DuckDB) \s EXCLUDES \x0B. Spelling the
# class out makes the Spark expression and every DuckDB oracle agree on ALL inputs
# (not just \x0B-free testdata) — ONE definition for every whitespace split.
WS_SPLIT = "[ \t\n\r\f\x0B]+"

CYRILLIC_CLASS = "[а-яА-ЯёЁ]"
LATIN_CLASS = "[a-zA-Z]"
DIGIT_CLASS = "[0-9]"
PUNCT_CLASS = r"[.,!?;:()\[\]\"'«»—–-]"


def _ratio(cls: str):
    return F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace(F.col("text"), f"[^{cls[1:-1]}]", "")) / F.length("text"),
    ).otherwise(F.lit(0.0))


# the quality score's punct class (narrower than PUNCT_CLASS above, which the
# tokenizer-adjacent stats use) — ONE definition shared by quality_score and
# curate_documents; the DuckDB oracle CTE mirrors it (__spark_entry__._DOC_FEATURES_CTE)
_QUALITY_PUNCT_CLASS = "[.,!?;:()«»—-]"


def _punct_ratio():
    return F.round(_ratio(_QUALITY_PUNCT_CLASS), 4)


def _lang_pred_expr(cyr_col, lat_col):
    return (F.when(cyr_col >= 0.3, "ru").when(lat_col >= 0.3, "en").otherwise("other"))


def _quality_expr(n_chars_col, digit_col, punct_col):
    return F.round(
        F.when(n_chars_col >= 20, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(digit_col < 0.3, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(punct_col < 0.2, F.lit(0.3)).otherwise(F.lit(0.0)),
        2,
    )


def language_id(docs: DataFrame) -> DataFrame:
    """n-gram-free heuristic language ID: script-class character ratios."""
    d = docs.select(
        "doc_id",
        F.round(_ratio(CYRILLIC_CLASS), 4).alias("cyr_ratio"),
        F.round(_ratio(LATIN_CLASS), 4).alias("lat_ratio"),
    )
    return d.select(
        "doc_id", "cyr_ratio", "lat_ratio",
        _lang_pred_expr(F.col("cyr_ratio"), F.col("lat_ratio")).alias("lang_pred"),
    )


# GPT-style pre-tokenizer shape: word runs OR single non-word non-space chars.
# Explicit character classes throughout — no \w (Java vs RE2 disagree on what a word
# char is) and no \s (Java includes \x0B vertical tab, RE2 does not): every class
# member is spelled out so the Spark expression and the DuckDB oracle can never
# disagree. A real BPE count = this pre-tokenization × per-word merge table.
_RE_TOKEN_PATTERN = r"[a-zA-Zа-яА-ЯёЁ0-9]+|[^a-zA-Zа-яА-ЯёЁ0-9 \t\n\r\f\x0B]"


def token_count(docs: DataFrame) -> DataFrame:
    """Token counting three ways: whitespace tokens, a BPE-ish regex pre-tokenizer
    count (word runs + single punctuation, ``_RE_TOKEN_PATTERN``), and the chars/4
    BPE-budget estimator — the columns a corpus-budgeting pass reads."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), WS_SPLIT)).alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(_RE_TOKEN_PATTERN)).cast("long")
        .alias("n_re_tokens"),
        F.length("text").alias("n_chars"),
        F.floor(F.length("text") / 4).cast("long").alias("n_bpe_est"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length/punct/digit-ratio quality features + a composite score in [0,1]."""
    feats = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(F.split(F.trim(F.col("text")), WS_SPLIT)).alias("n_tokens"),
        F.round(_ratio(DIGIT_CLASS), 4).alias("digit_ratio"),
        _punct_ratio().alias("punct_ratio"),
    )
    mean_tok = F.when(F.col("n_tokens") > 0, F.col("n_chars") / F.col("n_tokens")).otherwise(F.lit(0.0))
    return feats.select(
        "doc_id", "n_chars", "n_tokens", "digit_ratio", "punct_ratio",
        F.round(mean_tok, 4).alias("mean_token_len"),
        _quality_expr(F.col("n_chars"), F.col("digit_ratio"), F.col("punct_ratio"))
        .alias("quality"),
    )


def curate_documents(docs: DataFrame, min_quality: float = 0.7) -> DataFrame:
    """The training-data curation chain in ONE corpus scan: every feature (script
    ratios → lang_pred, digit/punct ratios → quality, content fingerprint) is computed
    in a single projection, and the exact-dedup keeper is a window min over the
    fingerprint — one scan + one shuffle, vs the naive compose-three-operators shape
    (quality ⋈ lang ⋈ keepers) that reads the corpus three times. A doc survives iff
    it is its duplicate group's keeper, quality ≥ min_quality and its language was
    identified. Same expressions as language_id/quality_score (shared helpers), so
    results are identical to the composed form."""
    from pyspark.sql import Window

    feats = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), WS_SPLIT)).cast("long").alias("n_tokens"),
        _lang_pred_expr(F.round(_ratio(CYRILLIC_CLASS), 4),
                        F.round(_ratio(LATIN_CLASS), 4)).alias("lang_pred"),
        _quality_expr(F.length("text"), F.round(_ratio(DIGIT_CLASS), 4),
                      _punct_ratio()).alias("quality"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    )
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        feats.withColumn("is_keeper", F.col("doc_id") == keeper)
        .where(F.col("is_keeper") & (F.col("quality") >= min_quality)
               & (F.col("lang_pred") != "other"))
        .select("doc_id", "lang_pred", "quality", "n_tokens")
    )


def winnow_fingerprints(docs: DataFrame, k: int = 7, window: int = 4,
                        text_col: str = "text", hash: str = "md5") -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (Schleimer, Wilkerson,
    Aiken 2003 — the MOSS algorithm): hash every character k-gram of the normalized
    text, keep the minimum hash of each ``window`` of consecutive k-grams, dedup per
    doc → (doc_id, fp). Guarantee: any substring of length ≥ k+window−1 shared by two
    documents yields a shared fingerprint, so near-dup detection is a plain equi-join
    on fp — position-robust, unlike the whole-text hash of ``fingerprint``.

    Implementation is one JVM-side projection of higher-order functions (sequence →
    transform(hash ∘ substring) → sliding array_min → array_distinct → explode): no
    Python, no shuffle until the consumer joins/aggregates.

    ``hash``: 'md5' (default — engine-portable, so the DuckDB oracle mirrors the
    selection exactly; fp is a 32-char string) or 'xxhash64' (the production hash —
    one 64-bit non-crypto hash per gram instead of a full MD5 digest + hex encode;
    fp is a long, which also shrinks the join/shuffle key 4×). Winnowing semantics
    are identical — any fixed total order over a uniform hash works for the
    min-in-window selection — and the substring-sharing guarantee holds for both
    (equivalence on the fixture corpus pinned in tests/test_spark_pipeline.py).
    Texts shorter than k fall back to one whole-text fingerprint."""
    if hash not in ("md5", "xxhash64"):
        raise ValueError(f"hash must be 'md5' or 'xxhash64', got {hash!r}")
    s = F.lower(F.trim(F.col(text_col)))
    d = docs.select("doc_id", s.alias("s"))
    # guard: Spark's sequence(1, n) with n < 1 produces a DESCENDING sequence, so
    # the short-text branch must be taken before sequence ever sees it
    grams = (
        f"CASE WHEN length(s) >= {k} THEN "
        f"  transform(sequence(1, length(s) - {k - 1}), i -> {hash}(substring(s, i, {k}))) "
        f"ELSE array({hash}(s)) END"
    )
    d = d.select("doc_id", F.expr(grams).alias("grams"))
    # window min via least(element_at...) — O(1) lookups instead of the
    # slice+array_min form, which allocates a window-sized array copy per gram
    # position (the _shingles_of_words element_at-not-slice rule; same result:
    # least == array_min on the non-null gram hashes)
    win_min = "least(" + ", ".join(
        f"element_at(grams, j + {o})" for o in range(window)) + ")"
    fps = (
        f"array_distinct(CASE WHEN size(grams) >= {window} THEN "
        f"  transform(sequence(1, size(grams) - {window - 1}), "
        f"            j -> {win_min}) "
        f"ELSE array(array_min(grams)) END)"
    )
    return d.select("doc_id", F.explode(F.expr(fps)).alias("fp"))


def extract_urls(text_spans: DataFrame) -> DataFrame:
    """(doc_id, span_idx, text) → one row per detected URL/Email span:
    (doc_id, span_idx, url_idx, url_type, url_value, domain). Runs the reference's
    URL/Email state machine (urldetect.allocate_urls, UrlDetector.cs) per span in
    an Arrow batch with a per-task text memo (duplicate-heavy corpora), plus the
    domain key domain-blocklist curation aggregates/filters on. No shuffle —
    narrow mapInArrow; consumers group by ``domain``."""
    from ..urldetect import allocate_urls, url_domain

    ddl = ("doc_id string, span_idx int, url_idx int, url_type string, "
           "url_value string, domain string")
    schema = to_arrow_schema(T.StructType.fromDDL(ddl))
    cap = ak.MEMO_CAP

    def run(batches):
        memo = ak.TaskMemo(cap)
        for b in batches:
            rows: list[tuple] = []
            for doc_id, span_idx, text in zip(
                    *(b.column(c).to_pylist() for c in ("doc_id", "span_idx", "text"))):
                if text is None:
                    continue
                spans = memo.get(text)
                if spans is None:
                    spans = [(s.type, s.value(text), url_domain(s.value(text), s.type))
                             for s in allocate_urls(text)]
                    memo.put(text, spans)
                rows += [(doc_id, span_idx, i, *u) for i, u in enumerate(spans)]
            yield ak.rows_batch(rows, schema)

    return text_spans.mapInArrow(run, schema=ddl)


def redact_pii(text_spans: DataFrame, min_digits: int = 4) -> DataFrame:
    """(doc_id, span_idx, text) → (doc_id, span_idx, text_redacted, n_urls,
    n_emails, n_digit_runs): PII scrubbing — the pre-training redaction pass every
    web-corpus pipeline runs. URL/Email spans detected by the reference's state
    machine (urldetect.allocate_urls) become placeholder tokens; residual digit runs
    ≥ ``min_digits`` become <NUM> (urldetect.redact_text is the shared pure kernel).
    Narrow mapInArrow with a per-task text memo (duplicate-heavy corpora) — no
    shuffle; the redacted column feeds tokenization directly."""
    from ..urldetect import redact_text

    ddl = ("doc_id string, span_idx int, text_redacted string, n_urls int, "
           "n_emails int, n_digit_runs int")
    schema = to_arrow_schema(T.StructType.fromDDL(ddl))
    cap = ak.MEMO_CAP

    def run(batches):
        memo = ak.TaskMemo(cap)
        for b in batches:
            rows: list[tuple] = []
            for doc_id, span_idx, text in zip(
                    *(b.column(c).to_pylist() for c in ("doc_id", "span_idx", "text"))):
                if text is None:
                    continue
                red = memo.get(text)
                if red is None:
                    red = redact_text(text, min_digits)
                    memo.put(text, red)
                rows.append((doc_id, span_idx, *red))
            yield ak.rows_batch(rows, schema)

    return text_spans.mapInArrow(run, schema=ddl)


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1 — the
    duplicate-text filters every LLM curation pass applies): per doc the duplicate
    word fraction, duplicate word-2-gram fraction, and the share of all 2-gram
    occurrences taken by the single most frequent 2-gram →
    (doc_id, n_words, dup_word_frac, dup_2gram_frac, top_2gram_frac).

    Distinct-fractions are pure higher-order functions (one projection); the
    top-2-gram mass deliberately goes through explode → per-(doc, gram) count →
    per-doc max — two map-side-combinable shuffles — instead of an O(n²)
    filter-count per document, which would blow up on book-length docs. The
    split/2-gram projection feeds both consumers, so it is persisted once (the
    module's established two-consumer pattern). The whitespace split uses an
    explicit character class (= Java's \\s exactly) so the DuckDB oracle's RE2
    cannot diverge on \\x0B (the one char the engines' \\s disagree about)."""
    w = F.split(F.lower(F.trim(F.col(text_col))), WS_SPLIT)
    base = docs.select("doc_id", w.alias("w")).select(
        "doc_id", "w",
        F.expr("CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), "
               "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) "
               "ELSE array() END").alias("g"),
    ).persist()
    try:
        frac = base.select(
            "doc_id",
            F.size("w").cast("long").alias("n_words"),
            F.round(F.lit(1.0) - F.size(F.array_distinct("w")) / F.size("w"), 4)
            .alias("dup_word_frac"),
            F.when(F.size("g") > 0,
                   F.round(F.lit(1.0) - F.size(F.array_distinct("g")) / F.size("g"), 4))
            .otherwise(F.lit(0.0)).alias("dup_2gram_frac"),
        )
        top = (
            base.select("doc_id", F.explode("g").alias("gram"))
            .groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id").agg(F.max("c").alias("top_c"), F.sum("c").alias("n_g"))
        )
        out = frac.join(top, "doc_id", "left").select(
            "doc_id", "n_words", "dup_word_frac", "dup_2gram_frac",
            F.coalesce(F.round(F.col("top_c") / F.col("n_g"), 4), F.lit(0.0))
            .alias("top_2gram_frac"),
        )
        out = out.localCheckpoint()  # materialize before releasing the cache
    finally:
        base.unpersist()
    return out


def winnow_neardup_pairs(docs: DataFrame, k: int = 7, window: int = 4,
                         max_df: int = 50, min_shared: int = 10,
                         text_col: str = "text", hash: str = "md5") -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints → (doc_a, doc_b, n_shared).

    Boilerplate control is the scale lever: a fingerprint present in more than
    ``max_df`` documents (headers, licence blurbs, pooled template sentences) is
    dropped BEFORE the self-join — without the df-cut one hot fingerprint shared by
    F docs emits F² join rows (the classic stop-shingle blowup; on this fixture
    corpus the cut shrinks the pair set ~20×, at 10^12 docs it is the difference
    between a bounded equi-join and an unbounded one). Everything is fp-keyed:
    count agg → semi-join filter → self-join → pair count. The fingerprint frame
    (the expensive per-char k-gram md5 scan) feeds two consumers with different
    physical subtrees, so it is persisted once — same reasoning as
    dedup.neardup_pairs' shared shingle frame."""
    fps = winnow_fingerprints(docs, k=k, window=window, text_col=text_col,
                              hash=hash).persist()
    try:
        rare = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") <= max_df).select("fp"))
        kept = fps.join(rare, "fp")
        a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
        b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
        out = (
            a.join(b, "fp").where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared)
        )
        out = out.localCheckpoint()  # materialize before releasing the fp cache
    finally:
        fps.unpersist()
    return out


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of the lowercase trimmed text (exact content hash)
    plus a 16-bucket locality prefix — the groupBy key for exact dedup and the blocking
    key for near-dup passes."""
    h = F.md5(F.lower(F.trim(F.col("text"))))
    return docs.select(
        "doc_id",
        h.alias("fp"),
        F.substring(h, 1, 1).alias("fp_bucket"),
    )
