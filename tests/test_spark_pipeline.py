"""Distributed-pipeline tests: per-row span invariant, single-node vs Spark triple
parity (the P/R ≥ 0.95 gate from BASELINE.md), checkpoint resume, connected
components, salted-join equivalence, metric parity vs NumPy."""

import os
import shutil

import numpy as np
import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from lingvo_spark_kg.fixtures.corpus import (
    gazetteer_from_aliases,
    make_aliases,
    make_docs,
)
from lingvo_spark_kg.model.lexicon import LexiconNer, tag_sentence
from lingvo_spark_kg.model.triples import extract_triples
from lingvo_spark_kg.operators import canonicalize, linking
from lingvo_spark_kg.operators.docsgen import generate_docs
from lingvo_spark_kg.operators.schemas import ALIASES_SCHEMA
from lingvo_spark_kg.operators.tag import tag_sentences_lexicon
from lingvo_spark_kg.operators.tokenize import media_spans, text_spans, tokenize_docs
from lingvo_spark_kg.operators.triples import docs_to_triples_fused, extract_triples_df
from lingvo_spark_kg.tokenizer import run_simple_sents_allocate

N_DOCS = 300


@pytest.fixture(scope="module")
def docs(spark):
    return generate_docs(spark, N_DOCS).cache()


def test_docsgen_matches_local_generator(spark, docs):
    got = {r["doc_id"]: r["spans"] for r in docs.collect()}
    for doc_id, spans in make_docs(N_DOCS):
        g = got[doc_id]
        assert len(g) == len(spans)
        for a, b in zip(g, spans):
            assert (a["kind"], a["text"], a["media_ref"], a["offset"]) == (
                b["kind"], b["text"], b["media_ref"], b["offset"],
            )


def test_per_row_span_invariant(spark, docs):
    """Per-row invariant (BASELINE.json input_hint): reconstructed span sequence equals
    the input on (kind, text, media_ref, order)."""
    tx = text_spans(docs).select(
        "doc_id", "span_idx", F.lit(None).cast("string").alias("kind_m"),
        F.col("text"), F.lit(None).cast("string").alias("media_ref"),
    )
    md = media_spans(docs).select(
        "doc_id", "span_idx", F.col("kind").alias("kind_m"),
        F.lit(None).cast("string").alias("text"), "media_ref",
    )
    rebuilt = tx.unionByName(md).groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_idx", "kind_m", "text", "media_ref"))
        ).alias("spans_rebuilt")
    )
    orig = docs.select(
        "doc_id",
        F.sort_array(
            F.transform(
                "spans",
                lambda s: F.struct(
                    s["offset"].alias("span_idx"),
                    F.when(s["kind"] == "text", F.lit(None).cast("string"))
                    .otherwise(s["kind"]).alias("kind_m"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                ),
            )
        ).alias("spans_orig"),
    )
    j = rebuilt.join(orig, "doc_id")
    mismatches = j.where(F.col("spans_rebuilt") != F.col("spans_orig")).count()
    assert mismatches == 0
    assert j.count() == N_DOCS


def test_triple_parity_spark_vs_single_node(spark, docs, gaz_bc):
    """The BASELINE.md gate: distributed triples match the single-node golden
    implementation exactly (P = R = 1.0 ≥ 0.95)."""
    spark_triples = {
        (r["doc_id"], r["span_idx"], r["sent_idx"], r["subj"], r["pred"], r["obj"])
        for r in docs_to_triples_fused(docs, gaz_bc).collect()
    }
    ner = LexiconNer(gaz_bc.value)
    golden = set()
    for doc_id, spans in make_docs(N_DOCS):
        for span in spans:
            if span["kind"] != "text":
                continue
            for sent_idx, (sent, words) in enumerate(run_simple_sents_allocate(span["text"])):
                pos, nert = tag_sentence(words, ner)
                for tr in extract_triples(words, pos, nert):
                    golden.add((doc_id, span["offset"], sent_idx, tr.subj, tr.pred, tr.obj))
    assert golden, "golden set must be non-empty"
    assert spark_triples == golden


def test_staged_equals_fused(spark, docs, gaz_bc):
    staged = extract_triples_df(tag_sentences_lexicon(tokenize_docs(docs), gaz_bc))
    fused = docs_to_triples_fused(docs, gaz_bc)
    a = {tuple(r) for r in staged.collect()}
    b = {tuple(r) for r in fused.collect()}
    assert a == b


def test_pipeline_resume_identical(spark, tmp_path_factory):
    from lingvo_spark_kg.pipeline import KgPipeline

    wd = str(tmp_path_factory.mktemp("kgresume"))
    p1 = KgPipeline(spark, wd, n_docs=200)
    c1 = p1.run(resume=False)
    edges1 = sorted(tuple(r) for r in spark.read.parquet(f"{wd}/edges").collect())

    # simulate a failure after triples: delete downstream stages, resume
    for stage in ("links", "canonical_map", "linked_triples", "nodes", "edges", "metrics"):
        shutil.rmtree(os.path.join(wd, stage), ignore_errors=True)
    p2 = KgPipeline(spark, wd, n_docs=200)
    c2 = p2.run(resume=True)
    edges2 = sorted(tuple(r) for r in spark.read.parquet(f"{wd}/edges").collect())
    assert c1 == c2
    assert edges1 == edges2
    # resume must not recompute the fused triples stage
    assert "triples_raw" not in p2.timings


def test_connected_components_known_graph(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], ["src", "dst"]
    )
    comp = {r["v"]: r["component"] for r in canonicalize.connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert comp["f"] == "f"


def test_multimodal_resize_frames_features(spark, docs):
    """The full multimodal family beyond decode: resize / frame-sample / feature-
    extract — deterministic fake impls over real Spark plumbing, plus the live
    real-codec paths over synthesized PNG/WAV/CSV payloads."""
    import math

    from lingvo_spark_kg.operators.multimodal import (
        decode_media, media_features, media_payloads, resize_media, sample_frames)

    media = media_payloads(media_spans(docs))

    resized = resize_media(media, width=8, height=4).collect()
    assert resized and all(len(r["resized"]) == 32 for r in resized)
    # deterministic: same payload → same resized bytes
    again = {(r["doc_id"], r["span_idx"]): r["resized_sha1"]
             for r in resize_media(media, width=8, height=4).collect()}
    for r in resized:
        assert again[(r["doc_id"], r["span_idx"])] == r["resized_sha1"]

    decoded = decode_media(media)
    frames = sample_frames(decoded, interval_ms=500).collect()
    audio_rows = [r for r in decoded.collect() if r["kind"] == "audio"]
    expected = sum(len(range(0, r["duration_ms"], 500)) for r in audio_rows)
    assert len(frames) == expected
    assert all(r["t_ms"] % 500 == 0 for r in frames)

    feats = media_features(media, dim=16).collect()
    assert feats and all(len(r["embedding"]) == 16 for r in feats)
    for r in feats[:5]:
        assert math.isclose(sum(x * x for x in r["embedding"]), 1.0, rel_tol=1e-9)

    # real seams are live since the stdlib codecs landed: over real synthesized
    # payloads (PNG/WAV/CSV) every real path produces rows (full codec coverage
    # lives in test_codecs.py; this pins the operator-level composition)
    real_media = media_payloads(media_spans(docs), codec="real")
    assert resize_media(real_media, 8, 4, impl="real").count() > 0
    assert sample_frames(real_media, interval_ms=500, impl="real").count() > 0
    real_feats = media_features(real_media, dim=16, impl="real").collect()
    assert real_feats and all(len(r["embedding"]) == 16 for r in real_feats)


def test_table_writer_contract(spark, tmp_path):
    """Writer seam (VERDICT r1 item 9): parquet impl round-trips bucketed tables and
    reports done(); the Iceberg impl fails fast without a configured catalog (SCALE.md
    swap point), so pipelines can't silently write nowhere."""
    import pandas as pd

    from lingvo_spark_kg.operators.writer import IcebergTableWriter, ParquetTableWriter

    w = ParquetTableWriter(str(tmp_path))
    df = spark.createDataFrame(pd.DataFrame({
        "src_id": [f"e:{i}" for i in range(20)],
        "n": list(range(20)),
        "bucket": [i % 4 for i in range(20)],
    }))
    assert not w.done(spark, "edges")
    w.write(df, "edges", bucket_col="bucket", n_buckets=4)
    assert w.done(spark, "edges")
    back = w.read(spark, "edges")
    assert sorted((r["src_id"], r["n"], r["bucket"]) for r in back.collect()) == \
        sorted((r["src_id"], r["n"], r["bucket"]) for r in df.collect())
    # bucket is a physical partition of the layout
    assert any(p.name.startswith("bucket=") for p in (tmp_path / "edges").iterdir())

    with pytest.raises(RuntimeError, match="catalog"):
        IcebergTableWriter(spark, "no_such_catalog")


def test_pipeline_through_custom_writer(spark, tmp_path):
    """The pipeline is writer-agnostic: an instrumented writer sees every stage."""
    from lingvo_spark_kg.operators.writer import ParquetTableWriter
    from lingvo_spark_kg.pipeline import KgPipeline

    class RecordingWriter(ParquetTableWriter):
        def __init__(self, root):
            super().__init__(root)
            self.tables = []

        def write(self, df, table, bucket_col=None, n_buckets=32):
            self.tables.append((table, bucket_col))
            super().write(df, table, bucket_col, n_buckets)

    w = RecordingWriter(str(tmp_path))
    p = KgPipeline(spark, workdir=str(tmp_path), n_docs=200, writer=w)
    counts = p.run(resume=False)
    assert counts["edges"] > 0
    written = dict(w.tables)
    assert written["nodes"] == "bucket" and written["edges"] == "bucket"
    assert "triples_raw" in written and "canonical_map" in written


def test_ann_multitable_recall(spark):
    """OR-amplified LSH (VERDICT r1 item 8): recall@10 ≥ 0.95 vs the exact brute-force
    top-k on the driver embeddings — single-table LSH recall here is ~0.2-0.4."""
    import __spark_entry__ as e

    sf = SF_DIR
    exact = e.q_ann_topk(spark, sf).collect()
    approx = e.q_ann_lsh_multi(spark, sf).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    assert sum(recalls) / len(recalls) >= 0.95, recalls


def test_ann_multitable_arrow_impl_equivalent(spark):
    """impl='arrow' (packed per-batch matmul bucketing — the cheaper corpus-side
    kernel at 10^12 docs) returns exactly the HOF path's results on the fixture;
    the HOF path stays the oracle anchor."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F
    from lingvo_spark_kg.operators.ann import lsh_multitable_topk

    emb = e._embeddings(spark, SF_DIR).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    q = emb.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"),
                                              "embedding")
    hof = sorted(map(tuple, lsh_multitable_topk(emb, q, dim=64, k=10,
                                                round_digits=4).collect()))
    arr = sorted(map(tuple, lsh_multitable_topk(emb, q, dim=64, k=10, round_digits=4,
                                                impl="arrow").collect()))
    assert hof == arr and len(hof) == 50


def test_winnow_shared_substring_shares_fingerprint(spark):
    """The winnowing guarantee (Schleimer et al. 2003): documents sharing a substring
    of length ≥ k+window−1 share ≥1 fingerprint; unrelated documents share none."""
    import pandas as pd
    from lingvo_spark_kg.operators.textstats import winnow_fingerprints

    shared = "общий украденный фрагмент текста достаточной длины"
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            f"первый документ начинается так {shared} и кончается иначе",
            f"{shared} — второй документ с тем же куском в другом месте",
            # disjoint scripts: any common ≥(k+window−1)-char substring with docs 1/2
            # (or each other) would legitimately share a fingerprint — that's the
            # operator's guarantee, so the negative cases must avoid one by content
            "a fully unrelated latin document with separate words",
            "0123456789 887766 numeric-only payload 5544332211",
        ],
    }))
    fps = winnow_fingerprints(docs, k=7, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared substring must yield a shared fingerprint"
    assert not (by_doc[3] & by_doc[1])
    assert not (by_doc[3] & by_doc[4])
    # short-text fallback: one whole-text fingerprint
    tiny = spark.createDataFrame(pd.DataFrame({"doc_id": [9], "text": ["абв"]}))
    assert winnow_fingerprints(tiny).count() == 1


def test_pipeline_dnn_regimen_numpy_onnx_identical(spark, tmp_path):
    """The north-star deployment shape end-to-end INSIDE the pipeline: staged path
    with the DNN tagger, once with NumPy-broadcast weights and once with real
    exported ONNX bundles run through the graph-executor session per executor —
    identical triples tables (the BiLSTM ONNX path is bit-identical)."""
    from lingvo_spark_kg.model.pinned import pinned_tagger_models
    from lingvo_spark_kg.pipeline import KgPipeline

    outs = {}
    all_counts = {}
    for backend in ("numpy", "onnx"):
        # pinned models EXPLICITLY (the pipeline default is the trained demo pair):
        # their zero-triple output keeps the empty-stage-table readability coverage
        p = KgPipeline(spark, str(tmp_path / backend), n_docs=200,
                       tagger="dnn", dnn_backend=backend,
                       dnn_models=pinned_tagger_models())
        all_counts[backend] = p.run(resume=False)
        rows = spark.read.parquet(p.path("tagged")).select(
            "doc_id", "span_idx", "sent_idx", "pos_tags", "ner_tags").collect()
        outs[backend] = sorted((r[0], r[1], r[2], tuple(r[3]), tuple(r[4]))
                               for r in rows)
        assert not p.fused  # dnn forces the staged path
        assert len(outs[backend]) > 0
    assert outs["numpy"] == outs["onnx"]
    # every downstream stage count agrees too — incl. a legitimately EMPTY
    # triples_raw (the pinned random models emit no subj-verb-obj pattern here;
    # the schema-sidecar writer keeps empty stage tables readable)
    assert all_counts["numpy"] == all_counts["onnx"]


def test_repetition_stats_flags_repeated_text(spark):
    """Gopher repetition rules: a looping document scores high duplicate fractions
    and top-2-gram occupancy; diverse text scores near zero; one-word docs don't
    divide by zero."""
    import pandas as pd
    from lingvo_spark_kg.operators.textstats import repetition_stats

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "спам спам спам спам спам спам спам спам",
            "каждое слово здесь встречается ровно один раз",
            "одно",
        ],
    }))
    r = {row["doc_id"]: row for row in repetition_stats(docs).collect()}
    assert r[1]["dup_word_frac"] > 0.8 and r[1]["dup_2gram_frac"] > 0.8
    assert r[1]["top_2gram_frac"] == 1.0  # every 2-gram is 'спам спам'
    assert r[2]["dup_word_frac"] == 0.0 and r[2]["dup_2gram_frac"] == 0.0
    assert r[3]["n_words"] == 1 and r[3]["top_2gram_frac"] == 0.0


def test_hash_sample_deterministic_and_key_stable(spark):
    """hash_sample: the sample is a pure function of (key, seed) — identical under
    repartitioning, close to the nominal rate, and a doc's fate survives corpus
    growth (the property df.sample lacks)."""
    from lingvo_spark_kg.operators.corpus_ops import hash_sample

    d = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in hash_sample(d, 0.2).collect()}
    s2 = {r["doc_id"] for r in hash_sample(d.repartition(13), 0.2).collect()}
    assert s1 == s2
    assert 0.15 < len(s1) / 5000 < 0.25
    # growth stability: the first 2000 docs keep their membership exactly
    small = {r["doc_id"] for r in hash_sample(d.where("doc_id < 2000"), 0.2).collect()}
    assert small == {x for x in s1 if x < 2000}
    # independent seeds draw different samples
    s3 = {r["doc_id"] for r in hash_sample(d, 0.2, seed=7).collect()}
    assert s3 != s1
    assert hash_sample(d, 1.0).count() == 5000
    assert hash_sample(d, 0.0).count() == 0


def test_decontaminate_flags_ngram_leaks_only(spark):
    """Decontamination semantics: a corpus doc sharing a word 3-gram with any
    benchmark doc is flagged with the DISTINCT shared-shingle count; docs with no
    3-gram overlap (even with shared single words) pass clean."""
    import pandas as pd
    from lingvo_spark_kg.operators.dedup import decontaminate

    bench = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100],
        "text": ["столица россии это москва и она велика"],
    }))
    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "известно что столица россии это крупный город",  # 1 shared 3-gram
            "москва упоминается но без общих триграмм вовсе",  # shared word only
            "совсем другой текст ни о чем",
        ],
    }))
    hits = {r["doc_id"]: r["n_benchmark_hits"]
            for r in decontaminate(corpus, bench).collect()}
    # doc 1 shares exactly one 3-gram with the benchmark ('столица россии это');
    # docs 2 and 3 share words at most, never a 3-gram — absent from the output
    assert hits == {1: 1}


def test_ann_ivf_self_match_and_bounded_candidates(spark):
    """IVF sanity: every query's rank-1 hit is itself (cosine 1.0 — its own cell is
    always probed), and probing n_probe of n_centroids cells actually bounds the
    candidate set (the point of the inverted file)."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F
    from lingvo_spark_kg.operators.ann import ivf_topk, pick_ivf_centroids, _cell_expr

    sf = SF_DIR
    rows = e.q_ann_ivf(spark, sf).collect()
    top1 = {r["query_id"]: (r["vec_id"], r["cosine"]) for r in rows if r["rank"] == 1}
    assert top1 == {q: (q, 1.0) for q in range(5)}

    emb = e._embeddings(spark, sf).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    centroids = pick_ivf_centroids(emb, 16)
    assert len(centroids) == 16
    cells = emb.withColumn("cell", _cell_expr(F.col("embedding"), centroids))
    sizes = {r["cell"]: r["n"] for r in
             cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    # 4 probed cells can never cover the whole corpus
    assert sum(sorted(sizes.values(), reverse=True)[:4]) < emb.count()


def test_connected_components_durable_resume(spark, tmp_path, cc_kernel_calls,
                                             spark_loop):
    """VERDICT r1 item 7: kill between CC iterations, complete from durable state.
    A long path graph (diameter 12) forces many propagation iterations; the fault
    injector kills the run after the first durable checkpoint; the rerun must (a)
    resume past iteration 0 instead of restarting and (b) produce exactly the
    labels of an uninterrupted run. The chain is small enough for the driver
    kernel, so every call here, the golden one included, runs with the
    broadcast budget off: the Spark loop, never the driver kernel."""
    n = 13
    chain = [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(n - 1)]
    edges = spark.createDataFrame(chain, ["src", "dst"])
    cc_dir = str(tmp_path / "cc")

    class Killed(RuntimeError):
        pass

    def kill_after_checkpoint(it):
        if it == 3:  # first durable write happens at it==1 (checkpoint_every=2)
            raise Killed()

    with spark_loop():
        with pytest.raises(Killed):
            canonicalize.connected_components(
                edges, checkpoint_dir=cc_dir, checkpoint_every=2,
                on_iteration=kill_after_checkpoint)
        assert (tmp_path / "cc" / "cc_state.json").exists()

        seen_iters = []
        comp = {r["v"]: r["component"] for r in canonicalize.connected_components(
            edges, checkpoint_dir=cc_dir, checkpoint_every=2,
            on_iteration=seen_iters.append).collect()}
        assert seen_iters[0] == 2  # resumed after the it==1 durable state, not from 0

        golden = {r["v"]: r["component"] for r in
                  canonicalize.connected_components(edges).collect()}
    assert comp == golden
    assert set(comp.values()) == {"v00"}
    assert cc_kernel_calls == []


def test_cc_convergence_check_rides_materialization(spark, monkeypatch,
                                                    spark_loop):
    """VERDICT r2 item 8: the CC convergence check must ride the SAME job that
    materializes each iteration (Dataset.observe metrics), not a separate count
    action — at scale every extra driver round-trip per iteration is a barrier.
    Pinned by asserting a normally-converging run of the Spark loop (the
    broadcast budget off, so the small chain skips the driver kernel) performs
    ZERO DataFrame.count() actions (the old implementation ran one every 2nd
    iteration)."""
    counts = []
    frame_cls = type(spark.range(1))   # the concrete class defines count
    orig = frame_cls.count

    def spy(self):
        counts.append(1)
        return orig(self)

    monkeypatch.setattr(frame_cls, "count", spy)
    chain = [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(8)]
    edges = spark.createDataFrame(chain, ["src", "dst"])
    with spark_loop():
        comp = {r["v"]: r["component"]
                for r in canonicalize.connected_components(edges).collect()}
    assert set(comp.values()) == {"v00"}
    assert counts == []  # convergence observed inside the checkpoint jobs


def test_cc_driver_kernel_matches_spark_loop(spark, cc_kernel_calls):
    """The driver CC kernel labels every vertex exactly as the Spark loop does,
    on seeded random multigraphs built through Arrow (a LocalRelation, so they
    fit the broadcast budget): string ids mixing Cyrillic, case and long ids
    (min by UTF-8 bytes), int ids, self-loops, duplicate edges, isolated pairs
    and NULL endpoints (one (NULL, NULL) row that joins nothing). The Spark
    side runs with the budget turned off; a spy pins which path ran."""
    import random

    import pyarrow as pa

    def labels(df):
        return sorted(((r["v"], r["component"]) for r in
                       canonicalize.connected_components(df).collect()),
                      key=repr)

    rng = random.Random(29)
    heads = ["Ж", "ж", "Ёлка", "ёлка", "A", "a", "Z", "z", "ы" * 40]
    graphs = []
    for g in range(30):
        n = rng.randrange(1, 25)
        if g % 3 == 2:
            typ, ids = pa.int64(), rng.sample(range(-50, 1000), n)
        else:
            typ = pa.string()
            ids = [rng.choice(heads) + str(i) + "x" * rng.choice([0, 0, 300])
                   for i in range(n)]
        pool = ids + [None] * (g % 2)
        rows = [(rng.choice(pool), rng.choice(pool))
                for _ in range(rng.randrange(0, 40))]
        rows += [(v, v) for v in rng.sample(ids, min(2, n))]   # self-loops
        rows += rng.sample(rows, len(rows) // 3)                # duplicates
        if typ == pa.string():                                  # isolated pair
            rows.append((f"iso{g}b", f"iso{g}a"))
        else:
            rows.append((5000 + g, 4000 + g))
        rng.shuffle(rows)
        graphs.append(spark.createDataFrame(pa.table({
            "src": pa.array([r[0] for r in rows], typ),
            "dst": pa.array([r[1] for r in rows], typ)})))
    driver = [labels(df) for df in graphs]
    assert len(cc_kernel_calls) == len(graphs)
    key = "spark.sql.autoBroadcastJoinThreshold"
    budget = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for df, want in zip(graphs, driver):
            assert labels(df) == want
    finally:
        spark.conf.set(key, budget)
    assert len(cc_kernel_calls) == len(graphs)
    assert sum((None, None) in want for want in driver) >= 5


def test_canonical_map_over_parquet_links_runs_at_most_five_jobs(
        spark, tmp_path, cc_kernel_calls):
    """canonical_map over a parquet-read links table labels its small mention
    graph on the driver: at most 5 Spark jobs for the whole call and its
    collect (27 with the Spark loop, which runs several per iteration)."""
    import pyarrow as pa

    norms = ["сергей козлов", "козлов", "с . козлов", "анна петрова",
             "петрова", "иван", "москва"]
    where = str(tmp_path / "links")
    spark.createDataFrame(pa.table({
        "mention_norm": norms,
        "mention_type": ["PER"] * 6 + ["LOC"],
        "n_mentions": pa.array(range(1, 8), pa.int64()),
        "entity_id": [None, "Q1", None, "Q2", None, None, "Q3"],
    })).write.parquet(where)
    links = spark.read.parquet(where)
    sc = spark.sparkContext
    group = f"canon-jobs-{id(links)}"
    sc.setJobGroup(group, group)
    try:
        canon = {r["mention_norm"]: r["canonical_id"] for r in
                 canonicalize.canonical_map(links).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(cc_kernel_calls) == 1
    assert len({canon[n] for n in norms[:3]}) == 1
    assert canon["анна петрова"] == canon["петрова"]
    assert canon["иван"] == "m:PER:иван"
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5


def test_canonicalization_groups_name_variants(spark, docs, gaz_bc):
    aliases = spark.createDataFrame(make_aliases(seed=42), schema=ALIASES_SCHEMA)
    triples = docs_to_triples_fused(docs, gaz_bc)
    links = linking.link_mentions(linking.mentions_from_triples(triples), aliases)
    canon = canonicalize.canonical_map(links).collect()
    by_norm = {r["mention_norm"]: r["canonical_id"] for r in canon}
    kozlov_variants = [n for n in by_norm if "козлов" in n]
    assert len(kozlov_variants) >= 2
    assert len({by_norm[n] for n in kozlov_variants}) == 1


def test_salted_join_equivalence(spark):
    facts = spark.createDataFrame(
        [(k,) for k in ["a"] * 50 + ["b"] * 5 + ["c"] * 2], ["k"]
    )
    dim = spark.createDataFrame([("a", 1), ("b", 2), ("x", 9)], ["dk", "v"])
    plain = facts.join(dim, facts.k == dim.dk, "left").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    salted = linking.salted_join(facts, dim, "k", "dk", n_salt=4).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_metrics_parity_vs_numpy(spark):
    from lingvo_spark_kg.operators.metrics import macro_f1, per_label_prf

    rng = np.random.default_rng(7)
    labels = np.array(["Noun", "Verb", "Adjective", "O"])
    n = 500
    hyp_lab = labels[rng.integers(0, 4, n)]
    ref_lab = labels[rng.integers(0, 4, n)]
    rows_h = [("d", 0, i, str(hyp_lab[i])) for i in range(n)]
    rows_r = [("d", 0, i, str(ref_lab[i])) for i in range(n)]
    cols = ["doc_id", "sent_key", "tok_idx", "label"]
    prf = per_label_prf(spark.createDataFrame(rows_h, cols),
                        spark.createDataFrame(rows_r, cols)).collect()
    for r in prf:
        lab = r["label"]
        n_hyp = int((hyp_lab == lab).sum())
        n_ref = int((ref_lab == lab).sum())
        n_both = int(((hyp_lab == lab) & (ref_lab == lab)).sum())
        assert (r["n_hyp"], r["n_ref"], r["n_both"]) == (n_hyp, n_ref, n_both)
        p = n_both / n_hyp if n_hyp else 0.0
        rec = n_both / n_ref if n_ref else 0.0
        f1 = 2 * p * rec / (p + rec) if (n_hyp and n_ref and n_both) else 0.0
        assert abs(r["precision"] - round(p, 6)) < 1e-9
        assert abs(r["f1"] - round(f1, 6)) < 1e-9
    # macro excludes 'O' (Validator.cs:87-97)
    prf_df = per_label_prf(spark.createDataFrame(rows_h, cols),
                           spark.createDataFrame(rows_r, cols))
    m = macro_f1(prf_df).collect()[0]
    assert m["n_labels"] == 3


def test_multimodal_stub(spark, docs):
    from lingvo_spark_kg.operators.multimodal import decode_media, media_payloads

    meta = decode_media(media_payloads(media_spans(docs)))
    rows = meta.collect()
    assert rows, "corpus should contain media spans"
    for r in rows[:50]:
        assert r["n_bytes"] == 64
        assert len(r["sha1"]) == 40
        if r["kind"] == "image":
            assert r["width"] >= 64 and r["height"] >= 64
    # real codecs are live: dimensions/duration come from actual PNG/WAV/CSV bytes
    real = decode_media(media_payloads(media_spans(docs), codec="real"),
                        impl="real").collect()
    assert real
    for r in real:
        assert r["n_bytes"] > 0
        if r["kind"] == "image":
            assert r["width"] > 0 and r["height"] > 0
        elif r["kind"] == "audio":
            assert r["duration_ms"] > 0
    # formats beyond the stdlib codecs still fail fast at the PIL/ffmpeg seam —
    # the opaque fake payloads sniff as 'unknown' and raise inside the executor
    with pytest.raises(Exception, match="PNG/JPEG/WAV/CSV"):
        decode_media(media_payloads(media_spans(docs)), impl="real").collect()


def test_bilstm_spark_matches_local(spark, docs):
    from lingvo_spark_kg.model.bilstm import BiLSTMTaggerModel
    from lingvo_spark_kg.model.lexicon import POS_TAGS, NER_TAGS
    from lingvo_spark_kg.model.vocab import Vocab
    from lingvo_spark_kg.operators.tag import tag_sentences_bilstm

    vocab = Vocab(list("абвгде"))
    pos_m = BiLSTMTaggerModel.create_pinned(vocab, POS_TAGS, emb_dim=8, hidden_dim=8)
    ner_m = BiLSTMTaggerModel.create_pinned(vocab, NER_TAGS, emb_dim=8, hidden_dim=8, seed=43)
    pos_bc = spark.sparkContext.broadcast(pos_m.to_bytes())
    ner_bc = spark.sparkContext.broadcast(ner_m.to_bytes())

    sentences = tokenize_docs(docs).limit(40).cache()
    tagged = tag_sentences_bilstm(sentences, pos_bc, ner_bc).collect()
    from lingvo_spark_kg.operators.tag import _correct_output_types

    for row in tagged:
        feats = [t["ending_pos"] for t in row["tokens"]]
        local = pos_m.predict_tags([feats])[0]
        assert list(row["pos_tags"]) == _correct_output_types(row["tokens"], local)


def test_salted_link_strategy_equals_broadcast(spark, docs, gaz_bc):
    import pandas as pd

    aliases = spark.createDataFrame(pd.DataFrame(make_aliases(seed=42)),
                                    schema=ALIASES_SCHEMA)
    mentions = linking.mentions_from_triples(docs_to_triples_fused(docs, gaz_bc))
    mentions = mentions.localCheckpoint()
    a = {tuple(r) for r in linking.link_mentions(mentions, aliases).collect()}
    b = {tuple(r) for r in linking.link_mentions(mentions, aliases, strategy="salted").collect()}
    assert a == b and a


def test_ner_mentions_superset_of_triple_mentions(spark, docs, gaz_bc):
    from lingvo_spark_kg.operators.mentions import ner_mentions

    tagged = tag_sentences_lexicon(tokenize_docs(docs), gaz_bc)
    all_mentions = {(r["mention_norm"], r["mention_type"])
                    for r in ner_mentions(tagged).collect()}
    triple_mentions = {
        tuple(r) for r in linking.mentions_from_triples(
            docs_to_triples_fused(docs, gaz_bc)
        ).select("mention_norm", "mention_type").collect()
    }
    assert triple_mentions <= all_mentions
    assert len(all_mentions) > len(triple_mentions)


def test_ann_lsh_results_subset_of_brute(spark):
    from lingvo_spark_kg.operators.ann import cosine_topk_brute, lsh_bucketed_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    q = emb.where(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    dim = len(emb.select("embedding").first()[0])
    brute = {(r["query_id"], r["vec_id"]): r["cosine"]
             for r in cosine_topk_brute(emb, q, k=100).collect()}
    lsh = lsh_bucketed_topk(emb, q, dim=dim, k=10).collect()
    assert lsh, "lsh should return candidates (query matches its own bucket)"
    for r in lsh:
        # every LSH hit's cosine must agree with the brute-force scoring
        key = (r["query_id"], r["vec_id"])
        if key in brute:
            assert abs(brute[key] - r["cosine"]) < 1e-6
        # self-match is always in the query's own bucket at rank 1
    top1 = {r["query_id"]: r["vec_id"] for r in lsh if r["rank"] == 1}
    for qid, vid in top1.items():
        assert qid == vid


def test_transformer_spark_tagging(spark, docs):
    from lingvo_spark_kg.model.lexicon import NER_TAGS, POS_TAGS
    from lingvo_spark_kg.model.transformer import TransformerTaggerModel
    from lingvo_spark_kg.model.vocab import Vocab
    from lingvo_spark_kg.operators.tag import tag_sentences_bilstm

    vocab = Vocab(list("абвгде"))
    pos_m = TransformerTaggerModel.create_pinned(vocab, POS_TAGS, emb_dim=16, n_heads=4, depth=1)
    ner_m = TransformerTaggerModel.create_pinned(vocab, NER_TAGS, emb_dim=16, n_heads=4,
                                                 depth=1, seed=43)
    pos_bc = spark.sparkContext.broadcast(pos_m.to_bytes())
    ner_bc = spark.sparkContext.broadcast(ner_m.to_bytes())
    sentences = tokenize_docs(docs).limit(20).cache()
    rows = tag_sentences_bilstm(sentences, pos_bc, ner_bc, encoder="transformer").collect()
    assert rows
    from lingvo_spark_kg.operators.tag import _correct_output_types

    for row in rows[:10]:
        feats = [t["ending_pos"] for t in row["tokens"]]
        local = pos_m.predict_tags([feats])[0]
        assert list(row["pos_tags"]) == _correct_output_types(row["tokens"], local)


def test_result_vm_shape(spark, docs, gaz_bc):
    from lingvo_spark_kg.operators.tag import as_result_vm

    tagged = tag_sentences_lexicon(tokenize_docs(docs), gaz_bc).cache()
    vm = {(r["doc_id"], r["span_idx"], r["sent_idx"]): r["tuples"]
          for r in as_result_vm(tagged).collect()}
    checked = 0
    for row in tagged.limit(20).collect():
        tuples = vm[(row["doc_id"], row["span_idx"], row["sent_idx"])]
        assert len(tuples) == len(row["tokens"])
        for t, tok, tag in zip(tuples, row["tokens"], row["pos_tags"]):
            expected_word = tok["orig"] if tok["orig"] is not None else tok["value"]
            assert t["Word"] == expected_word
            assert t["Label"] == tag
            if tok["value"] == "[%NUM%]":
                assert t["Word"] != "[%NUM%]"  # original digits, not the placeholder
                checked += 1
    assert checked > 0  # corpus contains NUM tokens


def test_fuzzy_linking_links_inflected_mentions(spark, docs, gaz_bc):
    import pandas as pd

    aliases = spark.createDataFrame(pd.DataFrame(make_aliases(seed=42)),
                                    schema=ALIASES_SCHEMA)
    mentions = linking.mentions_from_triples(
        docs_to_triples_fused(docs, gaz_bc)
    ).localCheckpoint()
    exact = {r["mention_norm"]: r["entity_id"]
             for r in linking.link_mentions(mentions, aliases).collect()}
    fuzzy = {r["mention_norm"]: r["entity_id"]
             for r in linking.link_mentions_fuzzy(mentions, aliases).collect()}
    assert set(fuzzy) == set(exact)  # same mention universe
    # everything exact-linked stays identically linked
    for k, v in exact.items():
        if v is not None:
            assert fuzzy[k] == v
    # and the fuzzy pass links strictly more (inflected surfaces)
    n_exact = sum(1 for v in exact.values() if v is not None)
    n_fuzzy = sum(1 for v in fuzzy.values() if v is not None)
    assert n_fuzzy > n_exact
    # the known dative case
    if "козлову" in fuzzy:
        assert fuzzy["козлову"] is not None
