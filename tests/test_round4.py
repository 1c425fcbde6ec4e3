"""Round-4 additions: production hash swap (xxhash64), bounded embedding near-dup
buckets, chunking material in the fixture corpus, training validator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


def _docs_slice(spark, n=300):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .where(F.col("doc_id") < n).select("doc_id", "text"))


# ---------------------------------------------------------------- hash swap


def test_winnow_hash_equivalence(spark):
    """xxhash64 winnowing is interchangeable with the md5 oracle anchor: a different
    hash picks different min-in-window positions, so per-pair n_shared wobbles and
    pairs AT the min_shared boundary may flip (both selections are valid winnowings,
    Schleimer et al. 2003 §4) — but every STRONG overlap must be found by both modes,
    and the two pair sets must agree on the bulk of the fixture's near-dups."""
    from lingvo_spark_kg.operators.textstats import winnow_neardup_pairs

    d = _docs_slice(spark)
    md5_pairs = {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in
                 winnow_neardup_pairs(d, k=7, window=4, max_df=50,
                                      min_shared=10).collect()}
    xxh_pairs = {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in
                 winnow_neardup_pairs(d, k=7, window=4, max_df=50, min_shared=10,
                                      hash="xxhash64").collect()}
    assert md5_pairs, "fixture slice must contain near-dup pairs"
    strong_md5 = {p for p, n in md5_pairs.items() if n >= 25}
    strong_xxh = {p for p, n in xxh_pairs.items() if n >= 25}
    assert strong_md5 and strong_md5 <= set(xxh_pairs)
    assert strong_xxh <= set(md5_pairs)
    # bulk agreement: the disagreeing tail is all boundary pairs (n_shared within
    # a few counts of min_shared on this pool-heavy fixture), so the bar is 0.6
    inter = len(set(md5_pairs) & set(xxh_pairs))
    union = len(set(md5_pairs) | set(xxh_pairs))
    assert inter / union >= 0.6, (inter, union)
    for p in set(md5_pairs) ^ set(xxh_pairs):  # every flip is near the threshold
        assert md5_pairs.get(p, xxh_pairs.get(p)) < 25


def test_winnow_xxhash_guarantee(spark):
    """The winnowing guarantee holds in xxhash64 mode too: any shared substring of
    length ≥ k+window−1 yields a shared fingerprint."""
    import pandas as pd

    from lingvo_spark_kg.operators.textstats import winnow_fingerprints

    # the negative case must share NO ≥7-char substring with docs 1/2 at all
    # (coincidental shared k-grams also produce shared fps — that's the guarantee
    # working, not a false positive), hence the disjoint latin/digit content
    shared = "общий достаточно длинный фрагмент текста"
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [f"первый документ {shared} хвост один",
                 f"совсем другое начало {shared} и другое окончание",
                 "a fully unrelated latin document 0123456789 with separate words"],
    }))
    by_doc: dict[int, set] = {}
    for r in winnow_fingerprints(docs, k=7, window=4, hash="xxhash64").collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[3] & by_doc[1])


def test_winnow_xxhash_fp_is_long(spark):
    from lingvo_spark_kg.operators.textstats import winnow_fingerprints

    fp = winnow_fingerprints(_docs_slice(spark, 20), hash="xxhash64")
    assert dict(fp.dtypes)["fp"] == "bigint"
    assert fp.count() > 0


def test_minhash_hash_equivalence(spark):
    """neardup_pairs (LSH candidates + exact-Jaccard verify) emits the same verified
    pair set under both hash modes on the fixture corpus: candidates may differ at
    the margin, but the fixture's true near-dups (shared pooled sentences) collide
    in some band under ANY uniform minhash."""
    from lingvo_spark_kg.operators.dedup import neardup_pairs

    d = _docs_slice(spark)
    md5_pairs = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
                 neardup_pairs(d).collect()}
    xxh_pairs = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
                 neardup_pairs(d, hash="xxhash64").collect()}
    assert md5_pairs, "fixture slice must contain near-dup pairs"
    assert md5_pairs == xxh_pairs


def test_minhash_candidates_checkpoints_bands_lazily(spark):
    """Building the LSH candidate frame does not materialize its band frame
    (adaptive execution still runs the shuffle-map job that plans its stages,
    but no job at construction is the checkpoint's own), and its rows are the
    band self-join's: every doc pair sharing a band signature, with the
    number of bands shared."""
    from collections import Counter, defaultdict

    from lingvo_spark_kg.operators.dedup import minhash_bands, minhash_candidates

    d = _docs_slice(spark)
    sc = spark.sparkContext
    group = f"minhash-lazy-{id(d)}"
    sc.setJobGroup(group, group)
    try:
        cand = minhash_candidates(d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    stages = [st.getStageInfo(s).name for j in st.getJobIdsForGroup(group)
              for s in st.getJobInfo(j).stageIds]
    assert not [n for n in stages if n.startswith("localCheckpoint")], stages
    by_band = defaultdict(list)
    for r in minhash_bands(d).collect():
        by_band[(r["band_idx"], r["band_sig"])].append(r["doc_id"])
    want = Counter((a, b) for ids in by_band.values()
                   for a in ids for b in ids if a < b)
    assert want, "fixture slice must contain candidate pairs"
    assert {(r["doc_a"], r["doc_b"]): r["n_shared_bands"]
            for r in cand.collect()} == want


def test_minhash_bad_hash_rejected(spark):
    from lingvo_spark_kg.operators.dedup import minhash_signatures
    from lingvo_spark_kg.operators.textstats import winnow_fingerprints

    with pytest.raises(ValueError):
        minhash_signatures(_docs_slice(spark, 5), hash="murmur3")
    with pytest.raises(ValueError):
        winnow_fingerprints(_docs_slice(spark, 5), hash="murmur3")


# ---------------------------------------------------------------- bounded emb near-dup


def _embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))


def test_split_oversized_buckets_bounds_occupancy(spark):
    """The occupancy cut: with max_bucket far under the natural bucket size, every
    oversized bucket is sub-split by reserve-plane bits; under-cap buckets keep their
    exact 6-bit id. Expected post-split occupancy is ~max_bucket; this fixture's
    post-split max is pinned ≤ 4×max_bucket (deterministic given seed + corpus)."""
    from lingvo_spark_kg.operators.ann import lsh_bucket, split_oversized_buckets

    e = lsh_bucket(_embeddings(spark), "embedding", dim=64, n_planes=6)
    before = {r["bucket"]: r["cnt"] for r in
              e.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    max_bucket = 8
    after = {r["bucket"]: r["cnt"] for r in
             split_oversized_buckets(e, dim=64, max_bucket=max_bucket)
             .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert max(before.values()) > max_bucket, "fixture must have oversized buckets"
    assert max(after.values()) < max(before.values())
    assert max(after.values()) <= 4 * max_bucket
    # under-cap buckets pass through byte-identical
    for b, c in before.items():
        if c <= max_bucket:
            assert after.get(b) == c
    # no rows lost, only re-keyed
    assert sum(after.values()) == sum(before.values())


def test_emb_neardup_bounded_is_subset(spark):
    """Bounded pairs ⊆ unbounded pairs (the cut only drops candidates, never invents
    them), and on this fixture the high-cosine pairs survive the sub-split."""
    from lingvo_spark_kg.operators.ann import embedding_neardup

    emb = _embeddings(spark)
    unbounded = {(r["vec_a"], r["vec_b"]) for r in
                 embedding_neardup(emb, dim=64, threshold=0.3,
                                   max_bucket=None).collect()}
    bounded = {(r["vec_a"], r["vec_b"]) for r in
               embedding_neardup(emb, dim=64, threshold=0.3,
                                 max_bucket=8).collect()}
    assert unbounded, "fixture must contain near-dup pairs"
    assert bounded <= unbounded
    # default cap is far above the fixture's bucket sizes → bit-identical results
    default = {(r["vec_a"], r["vec_b"]) for r in
               embedding_neardup(emb, dim=64, threshold=0.3).collect()}
    assert default == unbounded


# ---------------------------------------------------------------- chunking fixture


def test_synthetic_corpus_has_chunking_sentences():
    """M13 driver signal precondition: the sf0.001-sized synthetic corpus contains
    >220-token sentences (fixtures.corpus.long_sentence, ~0.5% of text spans), so the
    tag_chunked oracle row actually exercises the chunked decode
    (SeqLabel.cs:259-311)."""
    from lingvo_spark_kg.fixtures.corpus import make_docs
    from lingvo_spark_kg.operators.tokenize import _tokenize_text

    n_long = 0
    for _doc_id, spans in make_docs(1000):
        for s in spans:
            if s["kind"] != "text" or s["text"] is None:
                continue
            if len(s["text"]) < 1000:  # long_sentence texts are multi-KB
                continue
            for _si, _st, _ln, toks in _tokenize_text(s["text"], True):
                if len(toks) > 220:
                    n_long += 1
    assert n_long >= 5


# ---------------------------------------------------------------- training validator


def test_validate_macro_f1_perfect_and_deterministic():
    from lingvo_spark_kg.fixtures.corpus import (TRAIN_FIXTURE_TAGS, valid_fixture,
                                                 validate_macro_f1)

    rows = valid_fixture(SF_DIR)
    assert rows, "valid split must be non-empty"
    assert {t for _d, _t, labs in rows for t in labs} <= set(TRAIN_FIXTURE_TAGS)

    class Oracle:  # a model that answers with the reference labels
        def __init__(self, rows):
            self._by_toks = {tuple(t): l for _d, t, l in rows}

        def predict_tags(self, sentences):
            return [self._by_toks[tuple(s)] for s in sentences]

    assert validate_macro_f1(Oracle(rows), rows) == 1.0

    class Degenerate:  # all-Noun baseline scores strictly below perfect
        def predict_tags(self, sentences):
            return [["Noun"] * len(s) for s in sentences]

    s1 = validate_macro_f1(Degenerate(), rows)
    s2 = validate_macro_f1(Degenerate(), rows)
    assert s1 == s2
    assert 0.0 < s1 < 1.0


def test_train_valid_splits_disjoint():
    from lingvo_spark_kg.fixtures.corpus import train_fixture, valid_fixture

    train_ids = {d for d, _t, _l in train_fixture(SF_DIR)}
    valid_ids = {d for d, _t, _l in valid_fixture(SF_DIR)}
    assert valid_ids
    assert not (train_ids & valid_ids)


# ---------------------------------------------------------------- new data-ops


def test_stratified_sample_matches_flat_sample_per_stratum(spark):
    """Exact property: membership is the same md5(key:seed) function as hash_sample,
    so within stratum g the stratified sample at rate r equals hash_sample(r)
    restricted to g — per-group mixing without a second membership definition."""
    from lingvo_spark_kg.operators.corpus_ops import (hash_sample,
                                                      stratified_hash_sample)

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "lang")
    rates = {"en": 0.3, "de": 0.2}
    strat = stratified_hash_sample(d, rates=rates, group_col="lang", seed=42,
                                   default_rate=0.05)
    got = {r["doc_id"]: r["lang"] for r in strat.collect()}
    for g, rate in rates.items():
        flat = {r["doc_id"] for r in
                hash_sample(d.where(F.col("lang") == g), rate, seed=42).collect()}
        assert flat == {k for k, v in got.items() if v == g}
    # absent strata fall back to default_rate
    others = {r["doc_id"] for r in
              hash_sample(d.where(~F.col("lang").isin(*rates)), 0.05,
                          seed=42).collect()}
    assert others == {k for k, v in got.items() if v not in rates}
    # determinism under repartitioning
    got2 = {r["doc_id"] for r in
            stratified_hash_sample(d.repartition(7), rates=rates, group_col="lang",
                                   seed=42, default_rate=0.05).collect()}
    assert got2 == set(got)


def test_stratified_sample_rejects_bad_rates(spark):
    from lingvo_spark_kg.operators.corpus_ops import stratified_hash_sample

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "lang")
    with pytest.raises(ValueError):
        stratified_hash_sample(d, rates={"en": 1.5}, group_col="lang")
    with pytest.raises(ValueError):
        stratified_hash_sample(d, rates={"en": 0.5}, group_col="lang",
                               default_rate=-0.1)


def test_redact_pii_operator_matches_kernel(spark):
    import pandas as pd

    from lingvo_spark_kg.operators.textstats import redact_pii
    from lingvo_spark_kg.urldetect import redact_text

    texts = [
        "Пишите на info@example.ru или заходите на www.example.ru за подробностями.",
        "zxczxcv https://localhost:7701/ xzxzxzzxzx.",
        "123-3453-3456-3456 коровы паслись, счёт 1234567890.",
        "обычное предложение без всякой чувствительной информации.",
    ]
    spans = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(len(texts))],
        "span_idx": [0] * len(texts),
        "text": texts,
    }))
    rows = {r["doc_id"]: r for r in redact_pii(spans).collect()}
    assert len(rows) == len(texts)
    for i, t in enumerate(texts):
        red, n_u, n_e, n_d = redact_text(t, 4)
        r = rows[f"d{i}"]
        assert (r["text_redacted"], r["n_urls"], r["n_emails"],
                r["n_digit_runs"]) == (red, n_u, n_e, n_d)
    # redacted text never retains a ≥4-digit run or a detectable URL/Email span
    import re

    from lingvo_spark_kg.urldetect import allocate_urls

    for r in rows.values():
        assert not re.search(r"[0-9]{4,}", r["text_redacted"])
        assert not allocate_urls(r["text_redacted"])


# ---------------------------------------------------------------- review regressions


def test_stratified_rate_one_keeps_all_rows(spark):
    """rate 1.0 must keep EVERY row of the stratum (sentinel threshold above any hex
    prefix), matching hash_sample's keep-everything fast path."""
    from lingvo_spark_kg.operators.corpus_ops import stratified_hash_sample

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "lang")
    n_en = d.where(F.col("lang") == "en").count()
    got = stratified_hash_sample(d, rates={"en": 1.0}, group_col="lang",
                                 default_rate=0.0)
    assert got.count() == n_en
    assert got.where(F.col("lang") != "en").count() == 0


def test_ensure_goldens_subset_call_does_not_bless_stale_files(tmp_path):
    """A subset-names call after a version change must not mark the OTHER on-disk
    files as current: the manifest lists only names computed at its version, and a
    later full call recomputes the rest (golden.py incremental materialization)."""
    import json

    from lingvo_spark_kg import golden

    out = tmp_path / "g"
    golden.ensure_goldens(SF_DIR, out, names=("kg_invariant",))
    man = json.loads((out / "manifest.json").read_text())
    assert man["names"] == ["kg_invariant"]
    # simulate a stale pre-version file for another query
    (out / "kg_urls.parquet").write_bytes(b"not-current")
    golden.ensure_goldens(SF_DIR, out, names=("kg_invariant", "kg_urls"))
    man = json.loads((out / "manifest.json").read_text())
    assert sorted(man["names"]) == ["kg_invariant", "kg_urls"]
    # the stale bytes were recomputed, not blessed
    import pyarrow.parquet as pq

    assert pq.read_table(out / "kg_urls.parquet").num_rows > 0


def test_ensure_goldens_tolerates_corrupt_manifest(tmp_path):
    from lingvo_spark_kg import golden

    out = tmp_path / "g"
    golden.ensure_goldens(SF_DIR, out, names=("kg_invariant",))
    (out / "manifest.json").write_text("[]")  # valid JSON, wrong shape
    paths = golden.ensure_goldens(SF_DIR, out, names=("kg_invariant",))
    assert all(__import__("pathlib").Path(p).exists() for p in paths.values())


def test_pack_contexts_rows_frame_and_zero_tokens(spark):
    """ROWS-frame + zero-token regressions: duplicate keys keep per-shard token
    accounting consistent (offsets are a permutation of the cumsum stream, never
    RANGE-collapsed onto one value), and zero-token docs never straddle and keep
    ctx_end_id == ctx_id."""
    import pandas as pd

    from lingvo_spark_kg.operators.corpus_ops import pack_contexts

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 0, 0, 4, 8],      # three duplicates in shard 0
        "n_tokens": [50, 30, 20, 0, 10],
    }))
    out = pack_contexts(df, budget=64, n_shards=4,
                        n_tokens_col=F.col("n_tokens")).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for rows in by_shard.values():
        offsets = sorted((r["ctx_offset"], r["n_tokens"]) for r in rows)
        run = 0
        for off, n in offsets:  # contiguous, non-overlapping cumsum stream
            assert off == run
            run += n
    for r in out:
        assert r["ctx_end_id"] >= r["ctx_id"]
        if r["n_tokens"] == 0:
            assert r["ctx_end_id"] == r["ctx_id"] and r["straddles"] == 0


def test_stratified_rate_one_keeps_null_keys(spark):
    import pandas as pd

    from lingvo_spark_kg.operators.corpus_ops import stratified_hash_sample

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": pd.array([1, None, 3], dtype="Int64"),
        "lang": ["en", "en", "de"],
    }))
    got = stratified_hash_sample(df, rates={"en": 1.0}, group_col="lang",
                                 default_rate=0.0).collect()
    assert sorted((r["lang"] for r in got)) == ["en", "en"]  # NULL-keyed row kept


def test_entry_ws_split_matches_textstats():
    """__spark_entry__ inlines WS_SPLIT (its package imports stay inside functions
    for path-independent driver import) — the two copies must be identical."""
    import __spark_entry__ as e
    from lingvo_spark_kg.operators.textstats import WS_SPLIT

    assert e.WS_SPLIT == WS_SPLIT


def test_config_change_invalidates_stale_stage_markers(spark, tmp_path):
    """A resume=False run with a CHANGED config must clear every existing stage
    marker up front — otherwise a crash mid-rebuild leaves old-config stages that a
    later resume=True silently trusts (pipeline._check_fingerprint)."""
    from lingvo_spark_kg.pipeline import KgPipeline

    wd = str(tmp_path / "wd")
    p1 = KgPipeline(spark, wd, n_docs=60, seed=1)
    p1.run(resume=False)
    w = p1._writer()
    done_before = [s for s in KgPipeline.STAGES if w.done(spark, s)]
    assert "docs" in done_before and "edges" in done_before

    p2 = KgPipeline(spark, wd, n_docs=60, seed=2)
    p2._check_fingerprint(resume=False)  # the guard alone — simulates a crash
    # before any stage rebuilds
    w2 = p2._writer()
    assert not any(w2.done(spark, s) for s in KgPipeline.STAGES)
    # a subsequent resume=True run under the new config rebuilds everything
    counts = KgPipeline(spark, wd, n_docs=60, seed=2).run(resume=True)
    assert counts["docs"] == 60


def test_external_docs_schema_in_fingerprint(spark, tmp_path):
    """Resuming a workdir built from an external corpus with a DIFFERENT declared
    identity must fail the guard (docs_fingerprint threads into config.json)."""
    import pandas as pd
    import pytest as _pytest

    from lingvo_spark_kg.operators.docsgen import generate_docs
    from lingvo_spark_kg.pipeline import KgPipeline

    wd = str(tmp_path / "wd")
    ext = generate_docs(spark, 40)
    KgPipeline(spark, wd, n_docs=40, docs_df=ext,
               docs_fingerprint="corpus-A").run(resume=False)
    with _pytest.raises(ValueError, match="different"):
        KgPipeline(spark, wd, n_docs=40, docs_df=ext,
                   docs_fingerprint="corpus-B").run(resume=True)
