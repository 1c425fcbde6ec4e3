"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline dedup family. All variants are built from JVM-side column
expressions / higher-order functions (shingling via split+transform+filter, hashing via
md5 and bit arithmetic) — no Python UDFs — so they whole-stage-codegen, scale linearly,
and each has an exact DuckDB oracle (md5 is engine-portable; xxhash/murmur are not,
which is why md5 is the hash primitive throughout).

Scale shape:
 * exact: one hash-agg shuffle on the 32-char digest (combiner-friendly).
 * minhash-LSH: shingle explode → per-(doc, hashfn) min — map-side combinable agg —
   → band signature → self-join on band value. Join input is (docs × bands), never
   (docs × shingles); bands bound the candidate blow-up.
 * simhash: 64-bit signature from per-shingle md5 bits, weighted majority per bit —
   explode + conditional sums; near-dup = same signature prefix block + hamming ≤ k.
 * n-gram Jaccard: exact verify step over LSH candidates only (never all-pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import WS_SPLIT


def _shingles_of_words(words, n: int = 3):
    """Word n-gram shingles from a MATERIALIZED words-array column, built with
    higher-order functions (no UDF). Each shingle is assembled from n O(1)
    ``element_at`` lookups — NOT ``slice`` (slice copies O(n) per index, making the
    column O(len²) per document, which breaks down on book-length docs at 100 TB).

    ``words`` must be a projected attribute, not the split expression itself:
    Catalyst does not common-subexpression-eliminate inside ``transform`` lambdas, so
    an inline ``split(lower(trim(text)))`` would re-run the whole regex split for
    EVERY element_at — measured 14× slower (12.9 s → 0.9 s for the sf0.1 shingle
    scan)."""
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), k - F.lit(1))

    def shingle_at(i):
        parts = []
        for off in range(n):
            if off:
                parts.append(F.lit(" "))
            parts.append(F.element_at(words, i + off + 1))
        return F.concat(*parts)

    return F.when(
        F.size(words) >= n,
        F.transform(idx, shingle_at),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def neardup_pairs(docs: DataFrame, n_hashes: int = 8, rows_per_band: int = 2,
                  shingle_n: int = 3, hash: str = "md5") -> DataFrame:
    """End-to-end near-dup: MinHash-LSH candidates + exact Jaccard verify, with the
    shingle frame computed ONCE and persisted across the three consumers (bands,
    intersection join, size agg) — the explode is the expensive part at scale, so it
    must not run three times."""
    sh = shingle_df(docs, shingle_n).persist()
    try:
        # candidates materialized once: the verify step consumes them twice
        # (candidate-doc semi-join prune + the pair join) and the band
        # self-join plan would otherwise run per consumer
        cand = minhash_candidates(docs, n_hashes, rows_per_band, shingle_n,
                                  shingles=sh, hash=hash).localCheckpoint()
        out = ngram_jaccard_pairs(docs, cand, shingle_n, shingles=sh)
        out = out.localCheckpoint()  # materialize before releasing the shingle cache
    finally:
        sh.unpersist()
    return out


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup groups: md5(lower(trim(text))) → (fp, canonical doc_id, n_dups)."""
    return (
        docs.select(F.col("doc_id"), F.md5(F.lower(F.trim(F.col("text")))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def shingle_df(docs: DataFrame, n: int = 3) -> DataFrame:
    # two-stage projection: words materialized ONCE, then shingled — see _shingles_of_words
    words = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), WS_SPLIT).alias("__words"))
    return words.select(
        "doc_id",
        F.explode(F.array_distinct(_shingles_of_words(F.col("__words"), n))).alias("shingle"),
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, shingle_n: int = 3) -> DataFrame:
    """Benchmark decontamination — the train/test-overlap scan every LLM training
    pipeline runs before a corpus ships (the GPT-3/Llama n-gram filter): a corpus doc
    is contaminated iff it shares ≥1 word ``shingle_n``-gram with ANY benchmark doc.
    → (doc_id, n_benchmark_hits) for contaminated corpus docs.

    Scale shape: both sides shingled with the SAME ``shingle_df`` machinery as
    MinHash (one definition of 'n-gram'), benchmark shingles deduplicated, then ONE
    shingle-keyed equi-join + per-doc count. The benchmark side is typically small
    (eval suites), so AQE broadcasts it; a corpus-sized right side degrades to a
    plain shuffle join — never all-pairs. Hits count DISTINCT shared shingles, so a
    boilerplate shingle repeated in many benchmark docs counts once."""
    corpus_sh = shingle_df(docs, shingle_n)
    bench_sh = shingle_df(benchmark, shingle_n).select("shingle").distinct()
    return (
        corpus_sh.join(bench_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_benchmark_hits"))
    )


def _shingle_hash(i: int, mode: str):
    """Hash function i applied to the shingle column: md5(i || ':' || shingle)
    (engine-portable 32-char string — the oracle anchor) or xxhash64 with the index
    as a leading hashed column (one 64-bit non-crypto hash, 4× smaller shuffle key —
    the production swap). Any uniform hash under a fixed total order is a valid
    min-hash permutation, so both modes estimate the same Jaccard."""
    if mode == "xxhash64":
        return F.xxhash64(F.lit(i), F.col("shingle"))
    return F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))


def _minhash_wide_agg(sh: DataFrame, n_hashes: int, hash: str) -> DataFrame:
    """(doc_id, m0..m{n-1}) wide signature: all n_hashes hashes projected as columns
    of the one shingle row and min-aggregated per column (map-side combined). THE
    single definition both ``minhash_signatures`` and ``minhash_bands`` build on —
    a drift between them would silently desynchronize signatures from bands."""
    if hash not in ("md5", "xxhash64"):
        raise ValueError(f"hash must be 'md5' or 'xxhash64', got {hash!r}")
    wide = sh.select(
        "doc_id",
        *[_shingle_hash(i, hash).alias(f"h{i}") for i in range(n_hashes)],
    )
    return wide.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(n_hashes)]
    )


def minhash_signatures(docs: DataFrame, n_hashes: int = 8, shingle_n: int = 3,
                       hash: str = "md5") -> DataFrame:
    """(doc_id, hash_idx, minhash) — minhash_i = min over shingles of hash_i(shingle)
    (``_shingle_hash``: 'md5' oracle default / 'xxhash64' production swap; the
    minhash column is a string or long accordingly).

    Computed WIDE (``_minhash_wide_agg``), then unpivoted. No ×n_hashes row
    explosion — at 100 TB the explode variant shuffles n_hashes× the shingle
    volume; this shuffles only the per-doc signature row."""
    agg = _minhash_wide_agg(shingle_df(docs, shingle_n), n_hashes, hash)
    pairs = F.array(*[
        F.struct(F.lit(i).alias("hash_idx"), F.col(f"m{i}").alias("minhash"))
        for i in range(n_hashes)
    ])
    return agg.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.hash_idx").alias("hash_idx"), F.col("p.minhash").alias("minhash")
    )


def minhash_bands(docs: DataFrame, n_hashes: int = 8, rows_per_band: int = 2,
                  shingle_n: int = 3, shingles: DataFrame | None = None,
                  hash: str = "md5") -> DataFrame:
    """(doc_id, band_idx, band_sig): band signature = hash of the sorted minhashes in
    the band (classic banding: same band_sig ⇒ LSH candidate pair) — md5 over the
    '|'-joined strings, or one xxhash64 over the sorted long array in 'xxhash64' mode.
    Built from the wide signature (``_minhash_wide_agg``) — per-doc row explodes only
    into n_bands rows. Pass a persisted ``shingles`` frame to share the shingle scan
    across operators."""
    sh = shingles if shingles is not None else shingle_df(docs, shingle_n)
    agg = _minhash_wide_agg(sh, n_hashes, hash)
    n_bands = n_hashes // rows_per_band

    def band_sig(b: int):
        sorted_band = F.sort_array(F.array(*[
            F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)
        ]))
        if hash == "xxhash64":
            return F.xxhash64(sorted_band)
        return F.md5(F.concat_ws("|", sorted_band))

    bands = F.array(*[
        F.struct(F.lit(b).alias("band_idx"), band_sig(b).alias("band_sig"))
        for b in range(n_bands)
    ])
    return agg.select("doc_id", F.explode(bands).alias("p")).select(
        "doc_id", F.col("p.band_idx").alias("band_idx"), F.col("p.band_sig").alias("band_sig")
    )


def minhash_candidates(docs: DataFrame, n_hashes: int = 8, rows_per_band: int = 2,
                       shingle_n: int = 3, shingles: DataFrame | None = None,
                       hash: str = "md5") -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b, n_shared_bands) via self-join on band_sig.

    The band frame is MATERIALIZED once (localCheckpoint) before the self-join:
    Spark plans the two join sides as two independent subtrees (the broadcast
    side defeats exchange reuse), so an unmaterialized frame would run the
    whole shingle-scan + n_hashes-way hash + min aggregate TWICE — verified in
    the physical plan (two full SortAggregate chains down to the parquet scan)."""
    bands = minhash_bands(docs, n_hashes, rows_per_band, shingle_n, shingles=shingles,
                          hash=hash).localCheckpoint(eager=False)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_sig")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_sig")
    return (
        a.join(b, ["band_idx", "band_sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def ngram_jaccard_pairs(docs: DataFrame, candidates: DataFrame, shingle_n: int = 3,
                        shingles: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard for candidate pairs: two hash joins on shingles + one agg.

    The shingle frame is pruned to CANDIDATE docs first (semi-join prefilter,
    guide §3.2): every downstream join keys on candidate doc ids anyway, so
    rows of non-candidate docs — the overwhelming majority after LSH — are
    dropped before the intersection joins and the size aggregate instead of
    flowing through them. Results are identical by construction.

    Pass a MATERIALIZED ``candidates`` frame (neardup_pairs localCheckpoints
    it): it feeds both the prune and the pair join, and an unmaterialized
    band-self-join plan would execute once per consumer."""
    sh = shingles if shingles is not None else shingle_df(docs, shingle_n)
    cand_ids = (candidates.select(F.col("doc_a").alias("doc_id"))
                .unionAll(candidates.select(F.col("doc_b").alias("doc_id")))
                .distinct())
    # materialized once: three consumers (sizes, both intersection sides)
    # would otherwise each re-run the corpus-wide semi-join scan; the pruned
    # frame is candidate-doc-bounded, so the checkpoint is tiny
    sh = sh.join(cand_ids, "doc_id", "left_semi").localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b_"), F.col("shingle").alias("shingle_b"))
    inter = (
        candidates.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("doc_b_")) & (F.col("shingle") == F.col("shingle_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a", "doc_b", "n_inter",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4).alias("jaccard"),
        )
    )
    return out


def neardup_survivors(docs: DataFrame, pairs: DataFrame, threshold: float = 0.7,
                      pair_score_col: str = "jaccard") -> DataFrame:
    """Near-dup SURVIVOR selection — the actual deliverable of corpus dedup: which
    document of each near-dup cluster is kept. ``pairs`` is any near-dup pair list
    (neardup_pairs / winnow_neardup_pairs / embedding_neardup output); pairs scoring
    ≥ ``threshold`` become edges, connected components cluster them, and each doc
    gets (doc_id, cluster_id, is_canonical) with the deterministic min-doc_id keep
    rule — cluster_id is the component's min reachable id, so the canonical doc is
    exactly the one whose doc_id equals its cluster_id. Docs in no surviving pair
    are their own singleton cluster (canonical by construction).

    Scale shape: CC (canonicalize.connected_components — the SAME gated operator
    the KG canonicalization uses) runs on the PAIR-bounded graph, never the
    corpus; the corpus is touched once by the final left join, whose build side
    is the component map — AQE picks broadcast vs shuffle by its
    actual size (web corpora can put a large corpus fraction into clusters, so the
    map is NOT forced broadcast). No new corpus-volume shuffle beyond that join."""
    edges = (pairs.where(F.col(pair_score_col) >= threshold)
             .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")))
    from .canonicalize import connected_components

    comp = connected_components(edges).withColumnRenamed("v", "doc_id")
    out = (docs.select("doc_id")
           .join(comp, "doc_id", "left")
           .select("doc_id",
                   F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id")))
    return out.withColumn(
        "is_canonical", (F.col("doc_id") == F.col("cluster_id")).cast("int"))


def simhash(docs: DataFrame, prefix_bits: int = 16) -> DataFrame:
    """64-bit SimHash per doc from shingle md5 bits: for each bit position, sign of
    (#shingles with bit set − #without); implemented as conditional sums over an
    explode of (shingle, bit) — pure expressions, md5-portable.

    Returns (doc_id, simhash (as 16-hex string), sim_block (prefix for blocking))."""
    sh = shingle_df(docs, 3)
    # 64 bits from the first 16 hex chars of md5(shingle); WIDE form — one row per
    # shingle carrying all 64 ±1 bit contributions as columns, one groupBy(doc_id) with
    # 64 sums (map-side combined), no ×16 nibble explosion.
    h = sh.select("doc_id", F.substring(F.md5("shingle"), 1, 16).alias("hex16"))
    # two 32-bit halves instead of 16 per-nibble conv(substring) calls per
    # shingle row (same bits, 8× fewer string→int conversions in the hottest
    # projection); nibble i's bit b is then one shiftright+mask on a long
    nibbles = h.select(
        "doc_id",
        F.conv(F.substring("hex16", 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring("hex16", 9, 8), 16, 10).cast("long").alias("lo"),
    )

    def _bit(i: int, b: int):
        half, pos = ("hi", 7 - i) if i < 8 else ("lo", 15 - i)
        return F.shiftright(F.col(half), pos * 4 + b).bitwiseAND(F.lit(1))

    sum_exprs = [
        F.sum(F.when(_bit(i, b) == 1, 1).otherwise(-1)).alias(f"s{i}_{b}")
        for i in range(16)
        for b in range(4)
    ]
    agg = nibbles.groupBy("doc_id").agg(*sum_exprs)
    nib_out = [
        sum(
            F.when(F.col(f"s{i}_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(4)
        ).alias(f"o{i}")
        for i in range(16)
    ]
    hexed = agg.select("doc_id", *nib_out).select(
        "doc_id",
        F.lower(
            F.concat(*[F.conv(F.col(f"o{i}").cast("string"), 10, 16) for i in range(16)])
        ).alias("simhash"),
    )
    return hexed.select(
        "doc_id", "simhash",
        F.substring("simhash", 1, prefix_bits // 4).alias("sim_block"),
    )
