"""Graph materialization: canonical nodes / edges tables + per-partition lineage & metrics.

[KG-new] S11 (SURVEY.md §2.1). Nodes and edges are bucketed by hash of their key into
``n_buckets`` partitions (``partitionBy("bucket")`` on the parquet layout — the local
stand-in for Iceberg ``bucket(src_id)`` partition transforms; swap the writer for
``writeTo(...).partitionedBy(bucket(N, col))`` on an Iceberg catalog). Every row keeps
lineage: contributing doc count and an example doc_id; a ``metrics`` table records per
(stage, bucket) row counts and tag distributions — the WordsInDictRatio-style
aggregates of the reference (SeqLabel.cs:194-216) generalized per partition.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .fixpoint import fixpoint, observed, unchanged

N_BUCKETS_DEFAULT = 32
PAGERANK_CHECKPOINT_EVERY = 5


def _id_frame(spark, id_type: T.DataType, **cols) -> DataFrame:
    """A literal frame of node-id columns, each a Python list or an Arrow
    array, built from a ``pyarrow.Table``. The plan is a LocalRelation, so
    using the frame runs no job and starts no Python worker; a list-built
    frame is a Python-RDD scan that pays a worker round trip per use."""
    at = to_arrow_type(id_type)
    table = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v, type=at)
                      for k, v in cols.items()})
    return spark.createDataFrame(
        table, T.StructType([T.StructField(k, id_type) for k in cols]))


def _key_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Key-partition an iteration-static frame before its checkpoint.

    A BARE ``repartition(cols)`` (no count) on purpose: AQE plans it from the
    session's shuffle-partition conf and then coalesces with
    ``parallelismFirst`` (the default), which keeps ≥ default-parallelism
    partitions on edge-volume frames and collapses vocabulary-sized ones to a
    handful — measured 32 partitions for the 2M-edge adjacency and 1 for a
    50-row pair graph on local[32]. A hard-coded count would either burn
    empty tasks on every iteration of a tiny graph or cap a huge one; the
    bare form is scale-adaptive through conf alone (guide §2)."""
    return df.repartition(*[F.col(c) for c in cols])


def _undirected_adj(edges: DataFrame, directed: bool) -> DataFrame:
    """(node, nbr) adjacency view shared by the traversal operators — directed
    arcs or the symmetric undirected closure of the distinct simple edge set.

    KEY-PARTITIONED (``_key_repartition`` on ``node``) and localCheckpoint-ed:
    every per-level/iteration join keys on ``node``, so the edge-volume side
    is exchanged ONCE here instead of once per round — the checkpointed
    partitioning is visible to the planner (LogicalRDD carries it), and only
    the node-bounded frontier side moves per level (guide §2.4: operations
    keyed the same way share one exchange)."""
    if directed:
        adj = (edges.select(F.col("src_id").alias("node"),
                            F.col("dst_id").alias("nbr"))
               .where(F.col("node") != F.col("nbr")).distinct())
    else:
        und = (edges.select(F.least("src_id", "dst_id").alias("u"),
                            F.greatest("src_id", "dst_id").alias("v"))
               .where(F.col("u") != F.col("v")).distinct())
        adj = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
               .unionAll(und.select(F.col("v").alias("node"),
                                    F.col("u").alias("nbr"))))
    return _key_repartition(adj, "node").localCheckpoint(eager=False)


def build_nodes(canon: DataFrame, n_buckets: int = N_BUCKETS_DEFAULT) -> DataFrame:
    """canonical_map → nodes(canonical_id, label, node_type, n_mentions, n_surfaces,
    entity_id, bucket)."""
    agg = canon.groupBy("canonical_id").agg(
        F.max(F.struct("n_mentions", "mention_norm", "mention_type")).alias("top"),
        F.sum("n_mentions").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_surfaces"),
        F.min("entity_id").alias("entity_id"),  # min matches the component min-anchor convention
    )
    return agg.select(
        "canonical_id",
        F.col("top.mention_norm").alias("label"),
        F.col("top.mention_type").alias("node_type"),
        "n_mentions", "n_surfaces", "entity_id",
        F.pmod(F.hash("canonical_id"), F.lit(n_buckets)).alias("bucket"),
    )


def build_edges_table(linked_triples: DataFrame, canon: DataFrame,
                      n_buckets: int = N_BUCKETS_DEFAULT,
                      strategy: str = "auto", n_salt: int = 16,
                      doc_sketch: bool = False) -> DataFrame:
    """linked triples + canonical map → edges(src_id, pred, dst_id, n_occurrences,
    avg_confidence, n_docs, example_doc_id, bucket).

    The canonical map scales with distinct mention surfaces, so the two re-attach
    joins default to strategy='auto' (no hint — AQE broadcasts at runtime only when
    the map is actually small; 'broadcast'/'salted' are explicit overrides) — see
    linking.dim_join.

    avg_confidence sums integer micro-units instead of F.avg on doubles: float
    summation order varies with partitioning, so a double avg is not bit-reproducible
    across cluster sizes; the integer sum is exact and order-independent (confidence
    is already quantized to 1e-6 by the extractor, model/triples.py:83).

    ``doc_sketch=True`` makes the edge table INCREMENTALLY MAINTAINABLE
    (operators/incremental.py): each row carries a Datasketches HLL sketch of its
    contributing doc_ids (``F.hll_sketch_agg``) and ``n_docs`` becomes the sketch
    estimate — unlike countDistinct, sketches merge under re-aggregation when a
    delta batch or a canonical-cluster merge re-keys rows (HLL register state is a
    per-item max, so union order / grouping cannot change the estimate)."""
    from .linking import dim_join

    c_subj = canon.select(
        F.col("mention_norm").alias("subj_norm"), F.col("mention_type").alias("subj_type"),
        F.col("canonical_id").alias("src_id"),
    )
    c_obj = canon.select(
        F.col("mention_norm").alias("obj_norm"), F.col("mention_type").alias("obj_type"),
        F.col("canonical_id").alias("dst_id"),
    )
    t = (
        dim_join(dim_join(linked_triples, c_subj, ["subj_norm", "subj_type"], strategy, n_salt),
                 c_obj, ["obj_norm", "obj_type"], strategy, n_salt)
        .withColumn("src_id", F.coalesce("src_id", F.concat(F.lit("m:"), "subj_type", F.lit(":"), "subj_norm")))
        .withColumn("dst_id", F.coalesce("dst_id", F.concat(F.lit("m:"), "obj_type", F.lit(":"), "obj_norm")))
    )
    aggs = [
        F.count(F.lit(1)).alias("n_occurrences"),
        ((F.sum(F.round(F.col("confidence") * 1e6).cast("long")).cast("double")
          / F.count(F.lit(1))) / F.lit(1e6)).alias("avg_confidence"),
    ]
    if doc_sketch:
        aggs += [F.hll_sketch_agg("doc_id").alias("doc_sketch"),
                 F.min("doc_id").alias("example_doc_id")]
    else:
        aggs += [F.countDistinct("doc_id").alias("n_docs"),
                 F.min("doc_id").alias("example_doc_id")]
    agg = t.groupBy("src_id", "pred", "dst_id").agg(*aggs)
    if doc_sketch:
        agg = agg.withColumn("n_docs", F.hll_sketch_estimate("doc_sketch"))
    return agg.withColumn("bucket", F.pmod(F.hash("src_id"), F.lit(n_buckets)))


def partition_metrics(df: DataFrame, stage: str, key: str = "bucket") -> DataFrame:
    """Per-partition metrics rows: (stage, bucket, n_rows)."""
    return df.groupBy(F.col(key).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows")
    ).select(F.lit(stage).alias("stage"), "bucket", "n_rows")


def degree_stats(edges: DataFrame) -> DataFrame:
    """Graph-analytics over the materialized edges table: per-node total degree
    (out + in, weighted by n_occurrences) → log2-bucketed degree histogram
    (node_type-agnostic; the power-law read a KG curation pass inspects before
    deciding hub cuts). One explode + one groupBy(node) + one groupBy(bucket) —
    both map-side combinable; never materializes an adjacency matrix.
    → (degree_bucket, n_nodes, max_degree)."""
    ends = edges.select(
        F.explode(F.array(F.col("src_id"), F.col("dst_id"))).alias("node"),
        F.col("n_occurrences"),
    )
    deg = ends.groupBy("node").agg(F.sum("n_occurrences").alias("degree"))
    # bucket from the binary representation (length(bin(d))-1 ≡ floor(log2(d)) for
    # every positive BIGINT) — floor(log2(double)) rounds UP to k for degrees of the
    # form 2^k - d once k ≳ 49, which would disagree with the integer-exact mirror
    # (golden._degree_rows uses bit_length()-1)
    return (
        deg.select((F.length(F.bin(F.col("degree"))) - 1)
                   .cast("long").alias("degree_bucket"), "degree")
        .groupBy("degree_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
             F.max("degree").cast("long").alias("max_degree"))
    )


def predicate_paths(edges: DataFrame, include_cycles: bool = False,
                    max_mid_fanout: int | None = None) -> DataFrame:
    """2-hop relation-path mining over the materialized edges table: for every
    edge pair ``a -pred_1-> m -pred_2-> b`` count the composite paths per
    ``(pred_1, pred_2)`` → the predicate-bigram statistics a KG curation loop
    reads to discover composable relation templates (e.g. works_at ∘ located_in
    ⇒ a candidate works_in rule) — beyond-reference graph analytics like
    ``pagerank``/``degree_stats`` (SURVEY.md §2.1 S11).

    → (pred_1, pred_2, n_paths, n_mid, support_w, example_path) where ``n_mid``
    is the distinct mid-entity count, ``support_w`` weights each path by
    ``n_occurrences(e1) · n_occurrences(e2)``, and ``example_path`` is the
    lexicographic-min ``"a|m|b"`` string (deterministic, engine-portable — both
    engines compare ASCII digit strings byte-wise).

    ``include_cycles=False`` (default) drops round-trips ``a → m → a`` —
    reciprocal alias edges would otherwise dominate every bigram.

    Scale shape: ONE self-equi-join keyed on the mid entity id plus one
    map-side-combinable hash aggregate — never a cartesian product. The join
    fan-out per mid is in_deg(m)·out_deg(m), so hub entities blow up
    quadratically at web scale; ``max_mid_fanout`` bounds it by computing the
    per-node (in_deg, out_deg) frame (two map-side-combinable aggregates over
    the edges table, output is node-bounded ≪ edge-bounded) and semi-join
    filtering BOTH join sides to mids with in_deg·out_deg ≤ the cap — the
    standard hub cut of path mining, applied BEFORE the shuffle so the dropped
    volume never moves. AQE's skew-join split handles the surviving skew."""
    e1 = edges.select(F.col("src_id").alias("a"), F.col("pred").alias("pred_1"),
                      F.col("dst_id").alias("m"),
                      F.col("n_occurrences").cast("long").alias("w1"))
    e2 = edges.select(F.col("src_id").alias("m"), F.col("pred").alias("pred_2"),
                      F.col("dst_id").alias("b"),
                      F.col("n_occurrences").cast("long").alias("w2"))
    if max_mid_fanout is not None:
        out_deg = edges.groupBy(F.col("src_id").alias("m")).agg(
            F.count(F.lit(1)).alias("out_deg"))
        in_deg = edges.groupBy(F.col("dst_id").alias("m")).agg(
            F.count(F.lit(1)).alias("in_deg"))
        # only nodes with BOTH in- and out-edges can be mids (inner join)
        keep = (in_deg.join(out_deg, "m")
                .where(F.col("in_deg") * F.col("out_deg") <= max_mid_fanout)
                .select("m"))
        e1 = e1.join(keep, "m", "left_semi")
        e2 = e2.join(keep, "m", "left_semi")
    paths = e1.join(e2, "m")
    if not include_cycles:
        paths = paths.where(F.col("a") != F.col("b"))
    return (paths.groupBy("pred_1", "pred_2")
            .agg(F.count(F.lit(1)).cast("long").alias("n_paths"),
                 F.countDistinct("m").cast("long").alias("n_mid"),
                 F.sum(F.col("w1") * F.col("w2")).cast("long").alias("support_w"),
                 F.min(F.concat_ws("|", "a", "m", "b")).alias("example_path")))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over the (undirected view of the)
    edges table → (node_id, n_triangles); the global triangle count is
    Σ n_triangles / 3. Clustering-structure analytics next to
    ``degree_stats``/``pagerank``/``predicate_paths`` — the local-density signal
    a KG curation loop reads to separate organically-connected entity
    neighborhoods from star-shaped extraction noise (hubs with many mutually
    unconnected neighbors score 0).

    Degree-ordered node-iterator (Schank's algorithm, the standard distributed
    formulation): canonicalize to a distinct undirected edge set, rank nodes by
    (degree, id), ORIENT every edge from lower to higher rank, build wedges by
    self-joining oriented edges on their source, and close each wedge with one
    more equi-join against the oriented edge set. Orientation bounds each
    node's oriented out-degree by O(√m) on any graph, so the wedge frame —
    the only super-linear intermediate — is O(m^1.5) worst-case instead of the
    Σ deg² a naive wedge build produces on hub-skewed KGs; every step is an
    equi-join or a map-side-combinable aggregate, never a cartesian. Each
    triangle materializes exactly once (ranks strictly ordered a < b < c)."""
    # und feeds three subtrees and deg two, but NOT materialized: the repeated
    # subtrees share one shuffle via exchange reuse (all consumers sit behind
    # the same distinct exchange), and a measured checkpoint variant paid more
    # in block write+read than the re-run aggregates cost (first-run 8.1 s vs
    # 6.0 s interleaved; steady state equal) — unlike minhash_candidates,
    # where a broadcast side defeats the reuse
    und = (edges.select(F.least("src_id", "dst_id").alias("u"),
                        F.greatest("src_id", "dst_id").alias("v"))
           .where(F.col("u") != F.col("v")).distinct())
    deg = (und.select(F.explode(F.array("u", "v")).alias("node"))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    # total rank order = (degree, node id): strict, total, degree-aligned
    a_rk = deg.select(F.col("node").alias("u"), F.struct(
        F.col("degree"), F.col("node")).alias("rk_u"))
    b_rk = deg.select(F.col("node").alias("v"), F.struct(
        F.col("degree"), F.col("node")).alias("rk_v"))
    ranked = und.join(a_rk, "u").join(b_rk, "v")
    oriented = ranked.select(
        F.when(F.col("rk_u") < F.col("rk_v"), F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(F.col("rk_u") < F.col("rk_v"), F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(F.col("rk_u") < F.col("rk_v"), F.col("rk_u")).otherwise(F.col("rk_v")).alias("rk_lo"),
        F.when(F.col("rk_u") < F.col("rk_v"), F.col("rk_v")).otherwise(F.col("rk_u")).alias("rk_hi"),
    ).localCheckpoint(eager=False)
    w1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"),
                         F.col("rk_hi").alias("rk_b"))
    w2 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"),
                         F.col("rk_hi").alias("rk_c"))
    wedges = (w1.join(w2, "a").where(F.col("rk_b") < F.col("rk_c"))
              .select("a", "b", "c"))
    closer = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    tri = wedges.join(closer, ["b", "c"])
    return (tri.select(F.explode(F.array("a", "b", "c")).alias("node_id"))
            .groupBy("node_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))


def random_walks(edges: DataFrame, n_walks: int = 2, walk_len: int = 4,
                 seed: int = 42, weighted: bool = False,
                 weight_col: str = "n_occurrences",
                 weight_cap: int = 64) -> DataFrame:
    """DeepWalk-style random-walk corpus over the (undirected view of the) edges
    table → exploded (start_id, walk_idx, step, node_id) rows, step 0 = start —
    the standard KG → graph-embedding training-data export (walk sequences feed
    a skip-gram trainer exactly like token windows feed word2vec).

    DETERMINISTIC walks, not sampled: the next hop from the current node is the
    (neighbor, replica) minimizing md5(seed:start:walk:step:neighbor:replica).
    An argmin of a uniform hash over the candidate set IS a uniform choice per
    (walk, step) — DeepWalk's transition kernel — but reproducible across runs,
    engines and partitionings, which makes the operator oracle-checkable (the
    same argmin is expressible as a ROW_NUMBER window in plain SQL) and the
    emitted corpus stable under retries (the property an exactly-once training
    pipeline needs).

    ``weighted=True`` makes the transition probability proportional to the
    summed undirected edge weight (``weight_col``, capped at ``weight_cap``):
    each neighbor carries min(weight, cap) hash REPLICAS, so the argmin is an
    exact uniform draw over the weight-expanded multiset — weight-proportional
    sampling with only integer/md5 comparisons, no float ordering to drift
    between engines (Spark and the SQL oracle compare identical hex strings).
    The cap bounds the replica blow-up on hot edges (transition odds saturate
    at cap:1, the standard truncation); unweighted mode is replica=1
    everywhere, the same code path.

    Shape per step: one equi-join of the (nodes × n_walks)-bounded frontier
    against the (edge × ≤cap)-bounded neighbor table + one map-side-combinable
    min-struct aggregate — walk_len fixed small, so the whole plan is walk_len
    keyed joins, never a cartesian. The neighbor table is localCheckpoint-ed
    once and reused by every step. Walks sitting on a hub at the same step skew
    the frontier join key; that is the AQE skew-join case (same head-entity
    shape as linking). Undirected neighbor view: no dead ends (every
    non-isolated node has a neighbor), so every walk runs full length."""
    w_expr = (F.col(weight_col).cast("long") if weighted
              else F.lit(1).cast("long"))
    und = (edges.select(F.col("src_id").alias("u"), F.col("dst_id").alias("v"),
                        w_expr.alias("w"))
           .where(F.col("u") != F.col("v")))
    sym = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"), "w")
           .unionAll(und.select(F.col("v").alias("node"),
                                F.col("u").alias("nbr"), "w")))
    per_pair = (sym.groupBy("node", "nbr")
                .agg(F.sum("w").alias("w")) if weighted
                else sym.select("node", "nbr").distinct()
                .select("node", "nbr", F.lit(1).cast("long").alias("w")))
    nbrs = (per_pair.select(
        "node", "nbr",
        F.explode(F.sequence(
            F.lit(1), F.greatest(F.lit(1), F.least(F.col("w"),
                                                   F.lit(weight_cap)))))
        .alias("rep")))
    # keyed on the per-step join key — one exchange, not one per walk step
    # (guide §2.4)
    nbrs = _key_repartition(nbrs, "node").localCheckpoint(eager=False)
    frontier = (nbrs.select("node").distinct()
                .select(F.col("node").alias("start_id"),
                        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1)))
                        .alias("walk_idx")))
    steps = [frontier.select(
        "start_id", "walk_idx", F.lit(0).alias("step"),
        F.col("start_id").alias("node_id"))]
    cur = frontier.select("start_id", "walk_idx",
                          F.col("start_id").alias("cur"))
    for t in range(1, walk_len + 1):
        pick = (cur.join(nbrs, cur["cur"] == nbrs["node"])
                .groupBy("start_id", "walk_idx")
                .agg(F.min(F.struct(
                    F.md5(F.concat_ws(
                        ":", F.lit(seed), "start_id", "walk_idx",
                        F.lit(t), "nbr", "rep")).alias("h"),
                    F.col("nbr").alias("nbr"))).alias("pick")))
        cur = pick.select("start_id", "walk_idx",
                          F.col("pick.nbr").alias("cur"))
        steps.append(cur.select(
            "start_id", "walk_idx", F.lit(t).alias("step"),
            F.col("cur").alias("node_id")))
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


def biased_random_walks(edges: DataFrame, n_walks: int = 2, walk_len: int = 4,
                        seed: int = 42, return_mult: int = 1,
                        common_mult: int = 1, explore_mult: int = 1,
                        weighted: bool = False,
                        weight_col: str = "n_occurrences",
                        weight_cap: int = 16) -> DataFrame:
    """node2vec-style SECOND-ORDER walks (Grover & Leskovec 2016): the next-hop
    distribution depends on the previous node — candidates are classed as
    ``return`` (x == prev, the 1/p arm), ``common`` (x adjacent to prev, the
    BFS-ish arm) or ``explore`` (the 1/q DFS-ish arm) and their transition mass
    is scaled by the corresponding INTEGER multiplier. Integer multipliers
    instead of node2vec's real-valued 1/p, 1/q keep the replica-expansion trick
    exact: a candidate carries min(w, cap) × mult hash replicas, the argmin of
    md5(seed:start:walk:step:nbr:rep) over the expanded multiset IS the biased
    draw, and the SQL oracle compares identical hex strings — no float
    normalization to drift between engines. (Any rational p, q is expressible:
    scale all three multipliers by the common denominator.)

    Step 1 has no previous node and draws first-order (all candidates class
    ``explore``). Per step the plan is: frontier ⋈ neighbor-weights on cur
    (keyed), a LEFT SEMI-shaped classification join against the same neighbor
    table on (prev, nbr) to detect the common-neighbor class (equi-join, never
    cartesian), replica explode (≤ cap × max-mult per candidate, a constant),
    and one min-struct aggregate. The frontier carries (cur, prev) — the
    second-order state node2vec needs; everything else matches random_walks
    (localCheckpoint-ed neighbor table, AQE-skew caveat on hub frontiers,
    full-length walks on the undirected view)."""
    for name, m in (("return_mult", return_mult), ("common_mult", common_mult),
                    ("explore_mult", explore_mult)):
        if not isinstance(m, int) or m < 0 or m > 64:
            raise ValueError(f"{name} must be an int in [0, 64], got {m!r}")
    if explore_mult == 0 and (return_mult == 0 or common_mult == 0):
        raise ValueError("at least explore_mult or both other arms must be > 0")
    w_expr = (F.col(weight_col).cast("long") if weighted
              else F.lit(1).cast("long"))
    und = (edges.select(F.col("src_id").alias("u"), F.col("dst_id").alias("v"),
                        w_expr.alias("w"))
           .where(F.col("u") != F.col("v")))
    sym = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"), "w")
           .unionAll(und.select(F.col("v").alias("node"),
                                F.col("u").alias("nbr"), "w")))
    # unweighted: parallel multi-predicate rows must NOT accumulate mass (max of
    # the all-ones column = 1); weighted: total undirected weight, capped
    agg_w = F.sum("w") if weighted else F.max("w")
    per_pair = (sym.groupBy("node", "nbr").agg(
        F.greatest(F.lit(1), F.least(agg_w, F.lit(weight_cap)))
        .alias("w")))
    # keyed on the per-step frontier join key (guide §2.4)
    per_pair = _key_repartition(per_pair, "node").localCheckpoint(eager=False)
    frontier = (per_pair.select("node").distinct()
                .select(F.col("node").alias("start_id"),
                        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1)))
                        .alias("walk_idx")))
    steps = [frontier.select(
        "start_id", "walk_idx", F.lit(0).alias("step"),
        F.col("start_id").alias("node_id"))]
    # (cur, prev): prev is NULL at step 1 → every candidate classes as explore
    cur = frontier.select(
        "start_id", "walk_idx", F.col("start_id").alias("cur"),
        F.lit(None).cast(per_pair.schema["node"].dataType).alias("prev"))
    prev_adj = per_pair.select(F.col("node").alias("prev"),
                               F.col("nbr").alias("nbr"),
                               F.lit(1).alias("is_common"))
    for t in range(1, walk_len + 1):
        cand = (cur.join(per_pair, cur["cur"] == per_pair["node"])
                .join(prev_adj, ["prev", "nbr"], "left"))
        classed = cand.select(
            "start_id", "walk_idx", "nbr",
            (F.col("w") * F.when(F.col("nbr") == F.col("prev"),
                                 F.lit(return_mult))
             .when(F.col("is_common").isNotNull(), F.lit(common_mult))
             .otherwise(F.lit(explore_mult))).alias("n_rep"))
        picked = (classed.where(F.col("n_rep") > 0)
                  .select("start_id", "walk_idx", "nbr",
                          F.explode(F.sequence(F.lit(1), F.col("n_rep")))
                          .alias("rep"))
                  .groupBy("start_id", "walk_idx")
                  .agg(F.min(F.struct(
                      F.md5(F.concat_ws(
                          ":", F.lit(seed), "start_id", "walk_idx",
                          F.lit(t), "nbr", "rep")).alias("h"),
                      F.col("nbr").alias("nbr"))).alias("pick")))
        nxt = picked.select(
            "start_id", "walk_idx", F.col("pick.nbr").alias("cur"))
        # zero-mass dead ends (all arms multiplied to 0) terminate the walk —
        # inner-join semantics drop those frontier rows
        steps.append(nxt.select(
            "start_id", "walk_idx", F.lit(t).alias("step"),
            F.col("cur").alias("node_id")))
        cur = (nxt.join(cur.select("start_id", "walk_idx",
                                   F.col("cur").alias("prev")),
                        ["start_id", "walk_idx"])
               .select("start_id", "walk_idx", "cur", "prev"))
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


def components(edges: DataFrame, max_iter: int = 25,
               checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components of the KG edge graph → (node_id, component) with
    component = min reachable node id — the fragmentation read a curation pass
    takes before deciding whether extraction produced one knowledge graph or an
    archipelago. Thin adapter over the gated iterative CC engine
    (canonicalize.connected_components: checkpointed ping-pong loop, durable
    resume via ``checkpoint_dir``, convergence-observed)."""
    from .canonicalize import connected_components

    e = edges.select(F.col("src_id").alias("src"), F.col("dst_id").alias("dst"))
    comp = connected_components(e, max_iter=max_iter,
                                checkpoint_dir=checkpoint_dir)
    return comp.select(F.col("v").alias("node_id"), "component")


def shortest_path_counts(edges: DataFrame, sources, max_hops: int = 12,
                         directed: bool = False,
                         _adj: DataFrame | None = None) -> DataFrame:
    """Tagged σ-BFS (the forward half of Brandes): for every source s in
    ``sources`` and every node v within ``max_hops``, the hop distance AND
    the number of distinct shortest s→v paths → (src, node_id, distance,
    n_paths). The path-count is the evidence-multiplicity read on its own
    ("how many independent ways are these entities related at minimum
    distance") and the σ input to :func:`betweenness_centrality`.

    ``sources`` is a list of node ids or a one-column DataFrame (no collect
    needed for frame-valued pivot sets). All sources run AT ONCE, keyed
    (src, node): per level one adjacency equi-join + one map-side-combinable
    SUM + one anti-join against the settled frame, localCheckpoint-ed per
    level, early exit on an empty frontier — k·|reached| state, never a
    per-source driver loop. Counts are exact integers carried as doubles
    (exact to 2^53 — astronomically beyond any real KG's shortest-path
    multiplicity within a bounded radius); cast to long for integer-exact
    engine comparison.

    ``_adj`` (internal): a prebuilt ``_undirected_adj``-shaped frame, so
    betweenness_centrality shares ONE adjacency materialization between its
    forward and backward sweeps instead of deduplicating the edge set twice."""
    spark = edges.sparkSession
    adj = _adj if _adj is not None else _undirected_adj(edges, directed)
    if isinstance(sources, DataFrame):
        if len(sources.columns) != 1:
            raise ValueError("a sources frame must have exactly one column")
        pivots = sources.select(F.col(sources.columns[0]).alias("src")) \
            .distinct()
    else:
        if not sources:
            raise ValueError("shortest_path_counts needs a non-empty "
                             "source set")
        pivots = _id_frame(spark, edges.schema["src_id"].dataType,
                           src=list(set(sources)))
    frontier = pivots.select("src", F.col("src").alias("node"),
                             F.lit(1.0).alias("sigma"), F.lit(0).alias("dist"))
    if isinstance(sources, DataFrame):
        frontier = frontier.localCheckpoint()

    def expand(frontier, settled, it):
        return (adj.join(frontier.select("node", "src", "sigma"), "node")
                .groupBy("src", F.col("nbr").alias("node"))
                .agg(F.sum("sigma").alias("sigma"))
                .join(settled.select("src", "node"), ["src", "node"],
                      "left_anti")
                .withColumn("dist", F.lit(it + 1))
                .select("src", "node", "sigma", "dist"))

    settled = fixpoint(frontier, expand, None, max_hops, settled=frontier,
                       name="spc").settled
    return settled.select("src", F.col("node").alias("node_id"),
                          F.col("dist").alias("distance"),
                          F.col("sigma").alias("n_paths"))


def betweenness_centrality(edges: DataFrame, n_pivots: int = 16,
                           max_hops: int = 12, directed: bool = False,
                           seed: int = 42) -> DataFrame:
    """Sampled betweenness centrality (Brandes 2001, "A faster algorithm for
    betweenness centrality", with pivot sampling per Brandes & Pich 2007)
    → (node_id, centrality): how often a node sits ON shortest paths between
    other nodes — the broker/bridge read (which entities GATE information
    flow) that degree/PageRank/coreness all miss, and the classic "which
    node's removal fragments the graph" curation signal.

    Exact betweenness is all-pairs (O(nm) even with Brandes) — quadratic
    reads are off the table at KG scale, so this estimates from
    ``n_pivots`` sampled sources: BC(v) ≈ (n/k)·Σ_pivots δ_s(v), unbiased
    over the pivot choice, and EXACT (scale 1) when ``n_pivots ≥ n``.
    Pivots are chosen deterministically by seeded hash order
    (``xxhash64(node, seed)``), so runs are reproducible across
    partitionings without a collect.

    Both sweeps are level-synchronous joins over ALL pivots at once, keyed
    (pivot, node) — never a per-pivot driver loop:

    - Forward: multi-source tagged BFS accumulating σ (shortest-path
      counts): per level one adjacency equi-join + one (pivot, node)
      map-side-combinable SUM + one anti-join against the settled frame,
      localCheckpoint-ed per level (the CC discipline). Early exit on an
      empty frontier.
    - Backward (the Brandes dependency accumulation): per level L one join
      of level-L nodes to their level-(L+1) successors, δ_v = Σ σ_v/σ_w ·
      (1 + δ_w) as one hash aggregate; successors missing from the δ frame
      coalesce to 0 (leaves), so every path contributes.

    State is k·|reached| rows (k small), work is O(depth) shuffles each
    edge-volume-bounded — the only affordable Brandes shape on a cluster.
    σ/δ are doubles (path counts are exact in FP up to 2^53; the estimate
    is already a sample, and the tests pin exact-mode equality to a dense
    NumPy Brandes at 1e-9 rel). Undirected mode (the default, matching the
    other analytics here) follows standard Brandes and counts each
    unordered pair from both endpoints — divide by 2 for the normalized
    textbook figure. Unreached/leaf nodes report 0.0."""
    if n_pivots < 1:
        raise ValueError("n_pivots must be ≥ 1")
    spark = edges.sparkSession
    adj = _undirected_adj(edges, directed)
    nodes = adj.select("node").distinct().localCheckpoint(eager=False)
    pivots = (nodes.orderBy(F.xxhash64("node", F.lit(seed)), "node")
              .limit(int(n_pivots)).select(F.col("node").alias("src"))
              .localCheckpoint(eager=False))
    # bounded one-row reads: the estimator scale and the actual pivot count
    n_nodes = nodes.count()
    k = pivots.count()
    if k == 0:
        return edges.sparkSession.createDataFrame(
            [], f"node_id {dict(edges.dtypes)['src_id']}, centrality double")

    settled = (shortest_path_counts(edges, pivots, max_hops=max_hops,
                                    directed=directed, _adj=adj)
               .select("src", F.col("node_id").alias("node"),
                       F.col("n_paths").alias("sigma"),
                       F.col("distance").alias("dist")))
    maxd = settled.agg(F.max("dist")).collect()[0][0]   # one-row read

    # Brandes backward sweep, deepest level first; δ starts at 0 everywhere
    delta = settled.where(F.col("dist") == maxd).select(
        "src", "node", F.lit(0.0).alias("delta"))
    acc = [delta]
    for lvl in range(maxd - 1, -1, -1):
        upper = (settled.where(F.col("dist") == lvl + 1)
                 .select("src", F.col("node").alias("nbr"),
                         F.col("sigma").alias("sigma_w"))
                 .join(delta.select("src", F.col("node").alias("nbr"),
                                    F.col("delta").alias("delta_w")),
                       ["src", "nbr"], "left")
                 .withColumn("delta_w", F.coalesce("delta_w", F.lit(0.0))))
        delta = (settled.where(F.col("dist") == lvl)
                 .select("src", "node", "sigma")
                 .join(adj, "node")
                 .join(upper, ["src", "nbr"])
                 .groupBy("src", "node")
                 .agg(F.sum(F.col("sigma") / F.col("sigma_w")
                            * (F.lit(1.0) + F.col("delta_w")))
                      .alias("delta"))
                 .localCheckpoint())
        acc.append(delta)
    deltas = acc[0]
    for fr in acc[1:]:
        deltas = deltas.unionByName(fr)
    scale = float(n_nodes) / float(k)
    bc = (deltas.where(F.col("node") != F.col("src"))
          .groupBy("node")
          .agg((F.sum("delta") * F.lit(scale)).alias("centrality")))
    return (nodes.join(bc, "node", "left")
            .select(F.col("node").alias("node_id"),
                    F.coalesce("centrality", F.lit(0.0)).alias("centrality")))


def neighborhood_function(edges: DataFrame, max_hops: int = 8,
                          lg_config_k: int = 14,
                          converge_ratio: float = 1.001) -> DataFrame:
    """HyperANF (Boldi, Rosa & Vigna 2011, "HyperANF: approximating the
    neighbourhood function of very large graphs on a budget"): the neighborhood
    function N(h) = Σ_v |ball(v, h)| of the (undirected view of the) edges
    table, estimated with Datasketches HLL sketches → (hop, est_pairs) rows,
    hop 0 = the node count. N(h)'s saturation point reads off the effective
    diameter — the "how many hops connect this KG" health metric that is
    EXACTLY the computation that cannot be done exactly at scale (per-node
    reachable SETS are quadratic state; HLL balls are a few KB each).

    Per hop: every node's ball sketch is the HLL union of its own sketch and
    its neighbors' previous sketches — one equi-join of the (node, sketch)
    frame against the edge list + one ``hll_union_agg`` (map-side-combinable,
    the whole point of sketches); the global estimate sum rides the hop's
    checkpoint job (operators/fixpoint.py). The sketch
    frame is localCheckpoint-ed per hop (node-bounded rows, lineage cut like
    every iterative operator here). Early exit when N(h) grows by less than
    ``converge_ratio`` (diameter reached); HLL is deterministic for fixed
    inputs, so the output is stable run-to-run. Accuracy ~1.04/√2^lg_config_k
    (≈0.8% at the default 14) — tests bound it against exact BFS."""
    und = (edges.select(F.least("src_id", "dst_id").alias("u"),
                        F.greatest("src_id", "dst_id").alias("v"))
           .where(F.col("u") != F.col("v")).distinct())
    sym = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
           .unionAll(und.select(F.col("v").alias("node"),
                                F.col("u").alias("nbr"))))
    # keyed on the per-hop sketch join key (guide §2.4)
    sym = _key_repartition(sym, "nbr").localCheckpoint(eager=False)
    spark = edges.sparkSession
    n_pairs = [F.sum(F.hll_sketch_estimate("sk"))]
    balls, n0 = observed(sym.select("node").distinct()
                         .groupBy("node")
                         .agg(F.hll_sketch_agg(F.col("node").cast("string"),
                                               F.lit(lg_config_k)).alias("sk")),
                         n_pairs)

    def step(balls, it):
        nbr_sk = (sym.join(balls.select(F.col("node").alias("nbr"),
                                        F.col("sk").alias("nbr_sk")), "nbr")
                  .groupBy("node")
                  .agg(F.hll_union_agg("nbr_sk").alias("merged")))
        return (balls.join(nbr_sk, "node", "left")
                .select("node",
                        F.when(F.col("merged").isNull(), F.col("sk"))
                        .otherwise(F.hll_union("sk", "merged")).alias("sk")))

    run = fixpoint(balls, step, n_pairs, max_hops, prev=n0, name="hyperanf",
                   until=lambda cur, prev: cur[0] <= prev[0] * converge_ratio)
    return spark.createDataFrame(
        [(h, int(n)) for h, (n,) in enumerate([n0] + run.history)],
        "hop int, est_pairs long")


def neighbor_similarity(edges: DataFrame, min_common: int = 1,
                        max_center_degree: int | None = 1000) -> DataFrame:
    """Link-prediction scores over the (undirected simple view of the) edges
    table: for every non-adjacent-or-adjacent node pair sharing ≥ ``min_common``
    neighbors, emit (node_a, node_b, n_common, deg_a, deg_b, jaccard_num,
    jaccard_den, is_edge) with node_a < node_b — the common-neighbors /
    Jaccard candidate ranking a KG-completion pass consumes (Liben-Nowell &
    Kleinberg 2003). Jaccard = jaccard_num / jaccard_den is emitted as the
    INTEGER pair (n_common, deg_a + deg_b - n_common) so the score is exact and
    any SQL oracle compares integers, never floats.

    Pair enumeration is the wedge build: self-join the neighbor table on the
    CENTER node, count per (a, b). Σ C(deg, 2) is hub-quadratic, so
    ``max_center_degree`` drops high-degree wedge centers BEFORE the self-join
    (one degree aggregate + a semi-join, the predicate_paths hub-cut shape) —
    the standard relevance cut too: co-occurring in a celebrity's neighborhood
    is uninformative. Degrees reported are full degrees (cut centers still
    count as neighbors; they just stop generating pairs). ``is_edge`` marks
    already-connected pairs (1/0) via a left join against the edge set, letting
    the caller split "strengthen existing edge" from "predict missing edge"
    without a second pass. Equi-joins + map-side-combinable aggregates only."""
    und = (edges.select(F.least("src_id", "dst_id").alias("u"),
                        F.greatest("src_id", "dst_id").alias("v"))
           .where(F.col("u") != F.col("v")).distinct()
           .localCheckpoint(eager=False))
    nbrs = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
            .unionAll(und.select(F.col("v").alias("node"),
                                 F.col("u").alias("nbr"))))
    deg = (nbrs.groupBy("node")
           .agg(F.count(F.lit(1)).cast("long").alias("degree"))
           .localCheckpoint(eager=False))
    centers = nbrs
    if max_center_degree is not None:
        ok = deg.where(F.col("degree") <= max_center_degree).select("node")
        centers = nbrs.join(ok, "node", "left_semi")
    a = centers.select(F.col("node").alias("center"), F.col("nbr").alias("a"))
    b = centers.select(F.col("node").alias("center"), F.col("nbr").alias("b"))
    pairs = (a.join(b, "center").where(F.col("a") < F.col("b"))
             .groupBy("a", "b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
             .where(F.col("n_common") >= min_common))
    deg_a = deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a"))
    deg_b = deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b"))
    linked = und.select(F.col("u").alias("a"), F.col("v").alias("b"),
                        F.lit(1).alias("is_edge"))
    return (pairs.join(deg_a, "a").join(deg_b, "b")
            .join(linked, ["a", "b"], "left")
            .select(F.col("a").alias("node_a"), F.col("b").alias("node_b"),
                    "n_common", "deg_a", "deg_b",
                    F.col("n_common").alias("jaccard_num"),
                    (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
                    .alias("jaccard_den"),
                    F.coalesce(F.col("is_edge"), F.lit(0)).alias("is_edge")))


def coreness(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """K-core decomposition over the (undirected simple view of the) edges table
    → (node_id, coreness): the largest k such that the node survives in the
    k-core (the maximal subgraph where every node keeps ≥ k neighbors). The
    density layering a KG curation pass reads ABOVE the local triangle signal —
    peeling shells separates the well-attested entity core from the sparse
    extraction fringe.

    Sequential peeling is inherently serial; the distributed formulation is
    iterated neighborhood h-index (Lü et al. 2016, "The H-index of a network
    node and its relation to degree and coreness", Nat. Commun. 7:10168):
    start every node at its degree and repeatedly replace each node's value
    with the h-index of its neighbors' values — the sequence is monotonically
    non-increasing and converges exactly to coreness. Each iteration is one
    equi-join of the neighbor table against the current (node-bounded) value
    frame + one per-node h-index, computed as max(least(rank, value)) over a
    desc-sorted window — edge-volume shuffles, never a cartesian; hub nodes
    make single window partitions large (external sort handles them; the
    AQE-skew caveat of linking applies). Iteration output is localCheckpoint-ed
    every iteration (node-bounded rows), so lineage never replays the chain;
    convergence = Σ values unchanged, observed on the iteration's own job
    (operators/fixpoint.py); ``max_iter`` is a budget (NotConvergedWarning)."""
    from pyspark.sql import Window

    und = (edges.select(F.least("src_id", "dst_id").alias("u"),
                        F.greatest("src_id", "dst_id").alias("v"))
           .where(F.col("u") != F.col("v")).distinct())
    nbrs = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
            .unionAll(und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))))
    # keyed on the per-iteration join key — one exchange, not one per
    # h-index round (guide §2.4)
    nbrs = _key_repartition(nbrs, "nbr").localCheckpoint(eager=False)
    # the h-index sequence is MONOTONE non-increasing per node over a fixed
    # node set, so "no value changed" ⟺ Σ c unchanged
    total = [F.sum("c")]
    cur, prev = observed(nbrs.groupBy("node")
                         .agg(F.count(F.lit(1)).cast("long").alias("c")), total)
    w = Window.partitionBy("node").orderBy(F.desc("nbr_c"), F.asc("nbr"))

    def step(cur, it):
        vals = cur.select(F.col("node").alias("nbr"), F.col("c").alias("nbr_c"))
        return (nbrs.join(vals, "nbr")
                .withColumn("rn", F.row_number().over(w))
                .groupBy("node")
                .agg(F.max(F.least(F.col("rn"), F.col("nbr_c")))
                     .cast("long").alias("c")))

    cur = fixpoint(cur, step, total, max_iter, until=unchanged, prev=prev,
                   budget="max_iter", name="coreness").state
    return cur.select(F.col("node").alias("node_id"),
                      F.col("c").alias("coreness"))


def skip_gram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """random_walks output → aggregated skip-gram training pairs
    (center_id, context_id, n_pairs): every ordered (center, context) node pair
    co-occurring within ``window`` steps on the same walk, counted corpus-wide —
    the input a word2vec/node2vec trainer consumes (n_pairs is the example
    weight; aggregating here instead of emitting raw pairs is the map-side
    combine that keeps the training corpus node-pair-bounded instead of
    walk-volume-bounded).

    One self-equi-join keyed on (start_id, walk_idx) — per-walk fanout is
    (walk_len+1)², a small constant, never a cartesian — followed by one
    two-phase count aggregate. The walks frame is localCheckpoint-ed so the
    iterative walk plan is not executed once per join side."""
    w = walks.localCheckpoint(eager=False)
    a = w.select("start_id", "walk_idx", F.col("step").alias("step_a"),
                 F.col("node_id").alias("center_id"))
    b = w.select("start_id", "walk_idx", F.col("step").alias("step_b"),
                 F.col("node_id").alias("context_id"))
    return (a.join(b, ["start_id", "walk_idx"])
            .where((F.abs(F.col("step_a") - F.col("step_b")) <= window)
                   & (F.col("step_a") != F.col("step_b")))
            .groupBy("center_id", "context_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))


def pagerank(edges: DataFrame, damping: float = 0.85, n_iter: int = 20,
             weight_col: str = "n_occurrences",
             sources: list | None = None) -> DataFrame:
    """Weighted PageRank over the materialized edges table → (node_id, rank):
    the node-importance analytics pass a KG curation loop runs before hub cuts and
    entity-priority decisions (companion to ``degree_stats``; beyond-reference
    graph analytics like the rest of this module, SURVEY.md §2.1 S11).

    Fixed ``n_iter`` power iterations of the standard rank recurrence
    ``rank' = (1-d)/N + d * (Σ_in rank·share + dangling_mass/N)`` where
    ``share = w / out_weight`` (edge-weight-proportional distribution) and
    dangling (out-edge-less) nodes spread their mass uniformly.

    Scale shape: the normalized-share frame is computed ONCE (one join + one
    map-side-combinable aggregate) and localCheckpointed for reuse across
    iterations; each iteration is one equi-join on node id plus one hash
    aggregate — the plan AQE handles like any keyed join (skewed hub nodes ride
    the same skew-join machinery as linking). Rank lineage is truncated with
    ``localCheckpoint`` every ``PAGERANK_CHECKPOINT_EVERY`` iterations — the same
    ping-pong discipline as the iterative connected components
    (canonicalize.py), without which 20 chained iterations compound into an
    exponentially deep plan. The only driver-side values are the node count and
    the per-iteration 1-row dangling-mass aggregate (broadcast back, never
    collected into a loop over rows).

    ``sources`` switches to PERSONALIZED PageRank (random walk with restart) —
    the standard KG entity-relatedness query ("what is close to THESE
    entities"): the teleport vector concentrates on the source set (1/|S| each)
    instead of being uniform, dangling mass restarts through the same vector,
    and ranks initialize at the teleport vector. The uniform path below is kept
    byte-for-byte unchanged (its float op ORDER is gated bit-exactly against
    the driver's unrolled DuckDB oracle); the PPR branch shares the
    share/dangling machinery with a teleport column joined in."""
    e = edges.select("src_id", "dst_id", F.col(weight_col).cast("double").alias("w"))
    nodes = (e.select(F.col("src_id").alias("node_id"))
             .unionByName(e.select(F.col("dst_id").alias("node_id")))
             .distinct().localCheckpoint(eager=True))
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_w = e.groupBy("src_id").agg(F.sum("w").alias("out_w"))
    share = (e.join(out_w, "src_id")
             .select("src_id", "dst_id", (F.col("w") / F.col("out_w")).alias("share")))
    # keyed on the per-iteration join key (ranks arrive partitioned by
    # node_id from the previous iteration's aggregate, so the rank
    # recurrence join is then exchange-free on BOTH sides): the
    # edge-volume share frame is exchanged once here, not once per
    # power iteration (guide §2.4)
    share = _key_repartition(share, "src_id").localCheckpoint(eager=True)
    # materialized once: the per-iteration dangling-mass read anti-joins
    # against this set, and an unmaterialized frame would re-run the 2M-row
    # out-weight aggregate inside EVERY iteration's plan (guide §2.4)
    src_nodes = (out_w.select(F.col("src_id").alias("node_id"))
                 .localCheckpoint(eager=True))
    # dangling-free shortcut: when every node has out-edges the dangling mass
    # is IDENTICALLY zero every iteration — drop the per-iteration anti-join +
    # 1-row aggregate + broadcast outright. Bit-exact: x + 0.0 == x for every
    # finite rank sum, so the returned ranks match the general path to the
    # last ulp (one extra bounded count against the already-materialized
    # src_nodes; n_nodes is already counted above).
    no_dangling = src_nodes.count() == n_nodes
    if sources is not None:
        if not sources:
            raise ValueError("sources must be a non-empty list (or None)")
        t = 1.0 / len(sources)
        tele_df = F.broadcast(_id_frame(
            edges.sparkSession, nodes.schema["node_id"].dataType,
            node_id=list(set(sources))).withColumn("t", F.lit(t)))
        tele = (nodes.join(tele_df, "node_id", "left")
                .select("node_id", F.coalesce(F.col("t"), F.lit(0.0)).alias("t"))
                .localCheckpoint(eager=True))
        if tele.agg(F.sum("t")).collect()[0][0] == 0.0:
            raise ValueError("no source node appears in the edge set")
        ranks = tele.select("node_id", F.col("t").alias("rank"))
        for i in range(n_iter):
            contrib = (share.join(ranks, share["src_id"] == ranks["node_id"])
                       .groupBy(F.col("dst_id").alias("node_id"))
                       .agg(F.sum(F.col("rank") * F.col("share")).alias("contrib")))
            acc = F.coalesce(F.col("contrib"), F.lit(0.0))
            nxt = tele.join(contrib, "node_id", "left")
            if not no_dangling:
                dangling = (ranks.join(src_nodes, "node_id", "left_anti")
                            .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                                 .alias("dmass")))
                nxt = nxt.crossJoin(F.broadcast(dangling))
                acc = acc + F.col("dmass") * F.col("t")
            ranks = nxt.select("node_id",
                               (F.lit(1.0 - damping) * F.col("t")
                                + F.lit(damping) * acc).alias("rank"))
            if (i + 1) % PAGERANK_CHECKPOINT_EVERY == 0 and (i + 1) < n_iter:
                ranks = ranks.localCheckpoint(eager=True)
        return ranks
    base = (1.0 - damping) / n_nodes
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for i in range(n_iter):
        contrib = (share.join(ranks, share["src_id"] == ranks["node_id"])
                   .groupBy(F.col("dst_id").alias("node_id"))
                   .agg(F.sum(F.col("rank") * F.col("share")).alias("contrib")))
        acc = F.coalesce(F.col("contrib"), F.lit(0.0))
        nxt = nodes.join(contrib, "node_id", "left")
        if not no_dangling:
            dangling = (ranks.join(src_nodes, "node_id", "left_anti")
                        .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                             .alias("dmass")))
            nxt = nxt.crossJoin(F.broadcast(dangling))
            acc = acc + F.col("dmass") / F.lit(float(n_nodes))
        ranks = nxt.select("node_id",
                           (F.lit(base) + F.lit(damping) * acc).alias("rank"))
        if (i + 1) % PAGERANK_CHECKPOINT_EVERY == 0 and (i + 1) < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


_PATH_CHARS = set("+*?|/^!()")


def _is_path(pred_t) -> bool:
    return (isinstance(pred_t, str) and not pred_t.startswith("?")
            and any(c in _PATH_CHARS for c in pred_t))


def _split_path(s: str, sep: str, expr: str) -> list:
    """Split ``s`` on ``sep`` OUTSIDE parentheses (the ``!(...)`` negated
    property sets are the only parenthesized form in the grammar)."""
    parts, cur, depth = [], [], 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced ')' in property path {expr!r}")
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if depth:
        raise ValueError(f"unbalanced '(' in property path {expr!r}")
    parts.append("".join(cur))
    return parts


def _parse_nps(body: str, step: str, expr: str) -> tuple:
    """Parse the body of a negated property set ``!body`` → the step spec
    ``("!", frozenset(forward names), frozenset(inverse names))`` — SPARQL
    1.1 §9.1 ``!(p1|…|pk|^q1|…|^qm)``; the surrounding parentheses are
    optional for a single element (``!p``, ``!^p``)."""
    if body.startswith("(") and body.endswith(")"):
        body = body[1:-1]
    elems = body.split("|")
    fwd, bwd = set(), set()
    for e in elems:
        einv = e.startswith("^")
        name = e[1:] if einv else e
        if not name or any(c in _PATH_CHARS for c in name):
            raise ValueError(
                f"malformed negated-property-set element {e!r} in step "
                f"{step!r} of {expr!r} — expected '^'? predicate")
        (bwd if einv else fwd).add(name)
    return ("!", frozenset(fwd), frozenset(bwd))


def _parse_path(expr: str) -> list:
    """Parse a SPARQL-ish property-path string → a list of ALTERNATIVES
    (``|``, lowest precedence, as in SPARQL 1.1 §9.1), each a ``/``-SEQUENCE
    of steps, each step ``^``? primary (``+``|``*``|``?``)? where primary is
    a predicate name or a NEGATED PROPERTY SET ``!p`` / ``!(p|^q|...)`` —
    returned as ``[[(inverse, spec, modifier), ...], ...]`` with ``spec`` a
    plain name or the tuple ``("!", fwd_names, inv_names)``. Parentheses only
    delimit negated sets: grouping beyond this precedence is composed from
    multiple patterns instead. ``+ * ? | / ^ ! ( )`` are reserved path syntax
    inside a constant predicate."""
    alts = []
    for alt in _split_path(expr, "|", expr):
        steps = []
        for step in _split_path(alt, "/", expr):
            s = step
            inv = s.startswith("^")
            if inv:
                s = s[1:]
            mod = s[-1] if s and s[-1] in "+*?" else ""
            s = s[:-1] if mod else s
            if s.startswith("!"):
                steps.append((inv, _parse_nps(s[1:], step, expr), mod))
                continue
            if not s or any(c in _PATH_CHARS for c in s):
                raise ValueError(
                    f"malformed property-path step {step!r} in {expr!r} — "
                    "expected '^'? ('!'? predicate | '!(...)') "
                    "('+'|'*'|'?')? between '|' / '/'")
            steps.append((inv, s, mod))
        alts.append(steps)
    return alts


def _fits_broadcast(df: DataFrame) -> bool:
    """Whether the optimizer's size estimate of ``df`` is within
    ``spark.sql.autoBroadcastJoinThreshold`` — the budget under which Spark
    itself collects a join side through the driver to broadcast it (-1, the
    off switch, admits nothing; an unknown size estimates as huge)."""
    jss = df.sparkSession._jsparkSession
    budget = jss.sessionState().conf().autoBroadcastJoinThreshold()
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() \
        <= budget


def _reach_arrow(node: pa.ChunkedArray, nbr: pa.ChunkedArray,
                 const) -> pa.Array:
    """The nodes reachable in one or more hops from ``const`` over the arcs
    ``node → nbr``, each once. The ids are dictionary-encoded to dense codes
    and the arcs sorted into a CSR index; each BFS level then gathers the
    frontier's neighbour ranges with ``np.repeat`` and keeps the unseen
    ``np.unique`` codes — numpy work per level, no per-edge Python. A NULL
    id is reached like any other but never expanded, as an equi-join never
    matches NULL. ``const`` itself is reached only through a cycle."""
    ids = pa.chunked_array(node.chunks + nbr.chunks,
                           type=node.type).combine_chunks().dictionary_encode()
    n_ids = len(ids.dictionary)
    codes = pc.fill_null(ids.indices, -1).to_numpy()
    src, dst = codes[:len(node)], codes[len(node):]
    expand = src >= 0
    src, dst = src[expand], dst[expand]
    nbrs = dst[np.argsort(src, kind="stable")]
    indptr = np.zeros(n_ids + 1, dtype=np.int64)
    np.cumsum(np.bincount(src, minlength=n_ids), out=indptr[1:])
    start = -1 if const is None else pc.index(
        ids.dictionary, pa.scalar(const, type=node.type)).as_py()
    frontier = np.array([start] if start >= 0 else [], dtype=np.int64)
    seen = np.zeros(n_ids, dtype=bool)
    null_hit = False
    while frontier.size:
        lo = indptr[frontier]
        cnt = indptr[frontier + 1] - lo
        ends = np.cumsum(cnt)
        hit = nbrs[np.repeat(lo - ends + cnt, cnt) + np.arange(ends[-1])]
        null_hit = null_hit or bool((hit < 0).any())
        hit = np.unique(hit[hit >= 0])
        frontier = hit[~seen[hit]]
        seen[frontier] = True
    reached = ids.dictionary.take(pa.array(np.flatnonzero(seen)))
    if null_hit:
        reached = pa.concat_arrays([reached, pa.nulls(1, type=reached.type)])
    return reached


def _order_patterns(ests: list, varsets: list) -> list:
    """Greedy selectivity-aware BGP join order: start at the cheapest pattern
    (smallest estimated scan), then repeatedly take the cheapest pattern
    CONNECTED (≥1 shared variable) to the bindings accumulated so far — the
    connectivity constraint keeps every join an equi-join, never a cartesian.
    Ties break to input order, so plans are deterministic."""
    remaining = list(range(len(ests)))
    start = min(remaining, key=lambda i: (ests[i], i))
    order = [start]
    remaining.remove(start)
    bound = set(varsets[start])
    while remaining:
        conn = [i for i in remaining if varsets[i] & bound]
        if not conn:
            raise ValueError(
                "disconnected pattern set: no remaining pattern shares a "
                f"variable with {sorted(bound)} — this would be a "
                "cartesian product; split the query instead")
        nxt = min(conn, key=lambda i: (ests[i], i))
        remaining.remove(nxt)
        order.append(nxt)
        bound |= set(varsets[nxt])
    return order


def match_pattern(edges: DataFrame, patterns: list, distinct: bool = False,
                  optional: list | None = None, filter=None,
                  stats=None, union: list | None = None,
                  minus: list | None = None, values=None,
                  sub: list | None = None,
                  bind: dict | None = None, exists: list | None = None,
                  not_exists: list | None = None,
                  group_by: list | None = None, agg: dict | None = None,
                  having=None, select: list | None = None,
                  order_by: list | None = None, limit: int | None = None,
                  offset: int | None = None) -> DataFrame:
    """SPARQL-style basic-graph-pattern matching over the edges table: the core
    KG query primitive ("find every (author, book, publisher) wired like X").
    ``patterns`` is a list of (subj, pred, obj) triple patterns; a term that is
    a string starting with ``?`` is a VARIABLE, anything else a constant matched
    against src_id / pred / dst_id. Returns one column per variable (named
    without the ``?``), one row per solution binding — e.g.::

        match_pattern(edges, [("?a", "wrote",     "?b"),
                              ("?b", "published", "?c")])

    Compilation is joins-all-the-way-down, exactly how a SPARQL engine lowers a
    BGP onto a relational backend: each pattern becomes a filtered scan of the
    edges table (constant terms → pushed-down predicates; a variable repeated
    inside one pattern → an intra-row equality filter), and patterns are
    combined with equi-joins on their shared variables. Patterns are greedily
    reordered so every join shares ≥1 variable with the bindings accumulated so
    far — a disconnected pattern set would be a cartesian product, which is
    rejected with ``ValueError`` rather than silently planned (the no-cartesian
    discipline of every operator here). Catalyst then does what it does: the
    constant-pred scans prune at the parquet reader, AQE picks broadcast sides
    when a pattern is selective, and each join shuffles only on the shared
    variable — the right shape at any edge volume.

    Solutions follow bag semantics over the edge rows (SPARQL's); the pipeline
    edges table is already distinct per (src, pred, dst) so bindings are unique
    there, but ``distinct=True`` forces set semantics for raw triple lists.
    Variables bound in a subject/object slot are node ids (long); a variable in
    the pred slot binds the string predicate — one variable must not mix slots
    of different types across patterns.

    A constant predicate may be a SPARQL 1.1 PROPERTY PATH (§9.1; the
    reference has no query language — this is north-star scope). Supported
    grammar, by precedence: alternation ``p|q`` (lowest), sequence ``p/q``,
    then per-step ``^p`` (inverse), the closures ``p+`` (one-or-more),
    ``p*`` (zero-or-more), ``p?`` (zero-or-one), and NEGATED PROPERTY SETS
    ``!p`` / ``!(p|^q|...)`` — match any edge whose predicate is NOT in the
    set, the spec's forward-scan ∪ swapped-scan translation (each arm present
    only when it has elements), composable with the closure modifiers
    (``!(p)+`` closes over the complement scan). Parentheses only delimit
    negated sets — compose multiple patterns for deeper grouping. Lowering
    follows the spec's
    semantics: ``p`` / ``/`` / ``|`` are bag-semantics (a ``/`` hop
    multiplies by the number of routes through the mid, exactly the fresh-
    variable rewrite), while ``+``/``*``/``?`` are DISTINCT node-pair
    semantics; the zero-length arm of ``*``/``?`` matches every node of the
    graph plus any constant endpoint of the pattern (SPARQL's "terms
    mentioned in the query"). Each ``p+``/``p*`` compiles to ONE
    :func:`transitive_closure` per distinct predicate per call — two terms
    closing the same predicate share the doubling loop. ``+ * ? | / ^`` are
    reserved syntax inside constant predicates.

    ``filter=`` is SPARQL FILTER: a Column, a SQL-string (``F.expr``-ed), or
    a list of either (AND-ed), applied over the bound variable columns AFTER
    required and optional groups resolve — the spec's Filter(expr,
    LeftJoin(...)) placement. Variables unbound by an optional group are SQL
    NULLs there, so a filter touching them drops those rows unless it is
    NULL-aware — standard SQL lowering, same caveat as ``optional``.

    ``stats=`` makes the greedy join order SELECTIVITY-AWARE instead of
    input-order-first-connected: pass :func:`predicate_stats` output (or a
    ``{pred: n_edges}`` dict, or ``True`` to compute it here — one bounded
    aggregate, predicate vocabulary is tiny), and patterns are joined
    cheapest-estimated-scan first under the same connectivity constraint —
    a selective pattern then drives the first join (the broadcast side under
    AQE) instead of the biggest scan the user happened to list first. With
    ``stats=None`` a static heuristic still orders constant-endpoint /
    constant-predicate patterns before all-variable ones.

    ``optional=[group, ...]`` is OPTIONAL as a LEFT JOIN: each group (a
    pattern list, compiled exactly like the required set) left-joins the
    solutions on its shared variables — solutions keep their row with NULLs
    for the group's new variables when the group does not match. Groups apply
    in order against everything bound so far; a group sharing no variable is
    rejected like any other cartesian. Semantics note: this is the standard
    SQL lowering, where a NULL (unbound) join key never matches — a later
    group joining on a variable an earlier group left NULL yields NULLs, it
    does NOT re-bind the variable the way SPARQL's compatibility-merge
    LeftJoin can. Nest dependent patterns in ONE group when you need them to
    match-or-miss together.

    ``union=[group, ...]`` is SPARQL UNION: each group's solutions are
    bag-merged with the required group's (a group may bind different
    variables — rows carry NULL for variables its branch does not bind,
    exactly the spec's union of solution multisets). ``minus=[group, ...]``
    is SPARQL MINUS as a LEFT ANTI JOIN on the shared variables: solutions
    with a matching binding in the group are removed; a group sharing NO
    variable with the solutions is rejected (the spec defines that as a
    no-op, which is almost certainly a query bug — split the query if you
    really mean it). NULL caveat (same SQL lowering as optional): a solution
    whose shared variable is NULL never anti-matches and is KEPT, even where
    SPARQL's compatibility rule would remove it on the other shared
    variables.

    ``values=`` is SPARQL VALUES, inline bindings constraining the solutions:
    either ``{"x": [id1, id2]}`` — each variable independently restricted to
    its list (an ``isin`` filter, which Catalyst pushes into the scans; a
    solution whose variable is UNBOUND — NULL from a union branch — is KEPT,
    the spec's compatibility rule) — or ``(("x", "y"), [(a1, b1), (a2, b2)])``
    — row-wise bindings, a broadcast inner join against the literal table
    (the spec's multi-variable form; BAG semantics, so duplicate binding rows
    multiply matching solutions, and — SQL-null caveat, as with optional — a
    NULL-valued variable never joins, so union-branch-unbound solutions DROP
    here where the dict form keeps them). Variables must already be bound by
    the required/union part; UNDEF (None) entries are not supported (raise) —
    split the query instead.

    ``sub=`` is SPARQL 1.1 SUBQUERIES (§12): a list of pre-evaluated solution
    frames — typically the output of an inner :func:`match_pattern` /
    ``sparql_query`` call (the spec evaluates subqueries first, innermost
    out) — each joined with the solutions. A frame sharing ≥1 column name
    with the bound variables inner-joins on ALL shared names (the spec's
    compatibility join); a frame sharing none is the spec's disjoint-domain
    join, i.e. a product, lowered as a BROADCAST cross join — meant for the
    one-row aggregate-subquery idiom (``{ SELECT (COUNT(*) AS ?n) WHERE
    ... }`` giving every solution the global total); the sub side must be
    small, share a variable otherwise. New columns project after the
    pattern variables and are visible to ``bind`` / ``exists`` / ``filter``
    / aggregation / the modifiers, not to ``values``. SQL NULL-key caveat
    (the same lowering note as ``optional``/``values``): a solution whose
    shared variable is UNBOUND (NULL from a union branch) never joins and
    DROPS here, where SPARQL's compatibility rule would keep it — bind the
    variable in every branch when mixing UNION with a subquery.

    ``bind=`` is SPARQL BIND: an ordered ``{var: Column | SQL string}`` dict
    of computed variables extended onto the solutions (later entries may
    reference earlier ones). Reassigning an in-scope variable raises (the
    spec forbids it); bound variables project into the output after the
    pattern variables and are visible to ``exists`` / ``filter`` /
    ``select`` / ``order_by``, not to ``values`` or group joins.

    ``exists=[group, ...]`` / ``not_exists=[group, ...]`` are SPARQL FILTER
    EXISTS / NOT EXISTS: each group keeps (drops) the solutions that have a
    matching binding — a LEFT SEMI (ANTI) join on the shared variables, the
    same SQL lowering caveat as ``minus`` (a NULL shared variable never
    matches: NOT EXISTS keeps such rows, EXISTS drops them). Unlike
    ``minus``, a group sharing NO variable is legal — it is the spec's
    uncorrelated EXISTS, one boolean over the whole group (evaluated as a
    limit-1 one-row broadcast flag, not a per-row probe).

    ``group_by=`` / ``agg=`` / ``having=`` are SPARQL aggregation: group the
    solutions on bound variables (``group_by=[]`` / ``None`` with ``agg`` =
    one global group, the spec's implicit-group form), compute the
    ``{name: Column | SQL string}`` aggregates (map-side-combinable hash
    aggregates — ``count``/``sum``/``min``/``max``/``avg``/
    ``count(distinct ...)`` and friends), then filter groups with
    ``having=`` (same Column/string/list form as ``filter``). The grouped
    output carries the keys then the aggregate names; ``select`` /
    ``order_by`` operate on those. Aggregate names colliding with keys
    raise, as does ``group_by`` without ``agg`` (that is ``distinct=True``)
    or ``having`` without aggregation.

    ``select=`` / ``order_by=`` / ``limit=`` / ``offset=`` are the solution
    modifiers: projection to a subset of bound variables (unknown names
    raise), sort keys (a variable name, ``"-name"`` for descending, or any
    Column), and the slice (offset → limit last). Sort keys MAY be
    non-projected variables — the spec's OrderBy-before-Project — except
    with ``distinct=True``, where the dedupe runs on the projection first
    and sort keys must be projected (ordering a deduped bag on a dropped
    column is undefined). ``order_by + limit`` lowers to Spark's
    TakeOrderedAndProject, never a full sort when a limit is present.

    Evaluation order is fixed and documented: required patterns → UNION
    branches → SUB frames → VALUES → OPTIONAL groups → MINUS groups → BIND →
    EXISTS / NOT EXISTS → FILTER (the spec's Filter-last group semantics;
    put MINUS-dependent bindings in the required/union part) → GROUP
    BY/aggregates → HAVING → solution modifiers."""
    if not patterns:
        raise ValueError("match_pattern needs at least one triple pattern")
    slots = ("src_id", "pred", "dst_id")

    def is_var(t):
        return isinstance(t, str) and t.startswith("?")

    def pat_vars(p):
        return {t[1:] for t in p if is_var(t)}

    union_groups = [list(g) for g in (union or [])]
    minus_groups = [list(g) for g in (minus or [])]
    exists_groups = [(True, list(g)) for g in (exists or [])] \
        + [(False, list(g)) for g in (not_exists or [])]
    for p in (list(patterns)
              + [p for g in union_groups for p in g]
              + [p for g in (optional or []) for p in g]
              + [p for g in minus_groups for p in g]
              + [p for _, g in exists_groups for p in g]):
        if len(p) != 3:
            raise ValueError(f"pattern {p!r} is not a (subj, pred, obj) triple")
        if not pat_vars(p):
            raise ValueError(f"pattern {p!r} has no variables; constant-only "
                             "existence checks are not bindings")

    spark = edges.sparkSession
    id_type = edges.schema["src_id"].dataType
    closures: dict = {}     # pred → closure pairs, shared across all terms
    nodes_cache: list = []  # one graph-node-set scan per call, not per * / ?

    def nodes_df():
        if not nodes_cache:
            nodes_cache.append(
                edges.select(F.col("src_id").alias("n"))
                .unionAll(edges.select(F.col("dst_id").alias("n")))
                .distinct().localCheckpoint(eager=False))
        return nodes_cache[0]

    def step_pairs(spec):
        """Single-hop (src, dst) pairs of one path step: a constant-predicate
        scan, or — for a negated property set — the union of the forward scan
        (pred ∉ forward names) and the SWAPPED scan (pred ∉ inverse names),
        each arm present only when its element set is non-empty (SPARQL 1.1
        §9.1's NPS translation). Bag semantics: every matching edge row is a
        solution, so an (s, d) pair connected by two non-excluded predicates
        binds twice — exactly the spec's triple-per-solution rule."""
        if isinstance(spec, tuple):
            _, fwd, bwd = spec
            frames = []
            if fwd:
                frames.append(
                    edges.where(~F.col("pred").isin(sorted(fwd)))
                    .select("src_id", "dst_id"))
            if bwd:
                frames.append(
                    edges.where(~F.col("pred").isin(sorted(bwd)))
                    .select(F.col("dst_id").alias("src_id"),
                            F.col("src_id").alias("dst_id")))
            out = frames[0]
            for fr in frames[1:]:
                out = out.unionAll(fr)
            return out
        return (edges.where(F.col("pred") == F.lit(spec))
                .select("src_id", "dst_id"))

    def closure_df(spec):
        # keyed by name or by the hashable NPS tuple — one doubling loop per
        # distinct closed step per call, whatever the step shape
        if spec not in closures:
            base = (transitive_closure(edges, pred=spec)
                    if isinstance(spec, str)
                    else transitive_closure(step_pairs(spec)))
            closures[spec] = base.select("src_id", "dst_id")
        return closures[spec]

    def ident_df(consts):
        base = nodes_df().select(F.col("n").alias("src_id"),
                                 F.col("n").alias("dst_id"))
        lits = sorted(set(consts), key=repr)
        if lits:
            base = base.unionByName(
                _id_frame(spark, id_type, src_id=lits, dst_id=lits))
        return base

    def compile_step(inv, spec, mod, consts):
        if mod in ("+", "*"):
            pairs = closure_df(spec)
        else:
            pairs = step_pairs(spec)
        if mod in ("*", "?"):
            # zero-length arm: identity over graph nodes ∪ pattern constants;
            # distinct overall (SPARQL gives * / ? set semantics)
            pairs = pairs.unionByName(ident_df(consts)).distinct()
        if inv:
            pairs = pairs.select(F.col("dst_id").alias("src_id"),
                                 F.col("src_id").alias("dst_id"))
        return pairs

    def compile_path(expr, consts):
        seq_frames = []
        for seq in _parse_path(expr):
            cur = compile_step(*seq[0], consts)
            for step in seq[1:]:
                right = compile_step(*step, consts).select(
                    F.col("src_id").alias("dst_id"),
                    F.col("dst_id").alias("hop_dst"))
                cur = (cur.join(right, "dst_id")   # mid-keyed equi-join per /
                       .select("src_id", F.col("hop_dst").alias("dst_id")))
            seq_frames.append(cur)
        out = seq_frames[0]
        for f in seq_frames[1:]:                   # | is bag union
            out = out.unionByName(f)
        return out

    def reach_pairs(inv, spec, mod, const, const_is_obj):
        """Constant-endpoint closure: ``(?x, p+, C)`` / ``(C, p+, ?x)`` (and
        the ``*`` forms) answered by directed reachability from the constant
        instead of materializing the FULL predicate closure and filtering one
        endpoint afterwards — output-bounded (|reachable| rows of state)
        where the generic path is closure-bounded. The result is the
        identical solution SET: each reached node once (NULL included), and
        ``*`` adds the zero-length (C, C) row exactly like the generic ident
        arm filtered to C.

        Two paths, chosen by the step adjacency's plan-size estimate against
        ``spark.sql.autoBroadcastJoinThreshold`` (:func:`_fits_broadcast`):

        * within the budget, one job collects the adjacency through Arrow
          and the BFS runs vectorized on the driver (:func:`_reach_arrow`);
          the reached set comes back as a LocalRelation, whatever the depth;
        * over it, a distributed frontier loop: per hop one equi-join of the
          frontier against the key-partitioned adjacency, a distinct and a
          null-safe anti-join against the settled nodes, checkpointed with
          the emptiness check riding the checkpoint. If the frontier has not
          drained after 128 hops it returns None and the caller falls back
          to the generic closure — a pathologically deep chain is exactly
          what log-round doubling is for."""
        step = step_pairs(spec)
        if inv:
            step = step.select(F.col("dst_id").alias("src_id"),
                               F.col("src_id").alias("dst_id"))
        # follow edges forward from a constant subject, backward from a
        # constant object
        if const_is_obj:
            step = step.select(F.col("dst_id").alias("node"),
                               F.col("src_id").alias("nbr"))
        else:
            step = step.select(F.col("src_id").alias("node"),
                               F.col("dst_id").alias("nbr"))
        if _fits_broadcast(step):
            arcs = step.toArrow()
            reached = _reach_arrow(arcs["node"], arcs["nbr"], const)
            if mod == "*":
                reached = pc.unique(pa.concat_arrays(
                    [reached, pa.array([const], type=reached.type)]))
            pairs = _id_frame(spark, id_type, node=reached)
        else:
            pairs = reach_distributed(step, const)
            if pairs is None:
                return None
            if mod == "*":
                pairs = pairs.unionAll(
                    _id_frame(spark, id_type, node=[const])).distinct()
        if const_is_obj:
            return pairs.select(F.col("node").alias("src_id"),
                                F.lit(const).cast(id_type).alias("dst_id"))
        return pairs.select(F.lit(const).cast(id_type).alias("src_id"),
                            F.col("node").alias("dst_id"))

    def reach_distributed(step, const):
        step = _key_repartition(step, "node").localCheckpoint(eager=False)

        def expand(frontier, settled, it):
            cand = (step.join(frontier.select("node"), "node")
                    .select(F.col("nbr").alias("node")).distinct())
            # null-safe: a plain anti-join never matches a NULL key, so a
            # NULL reached on two hops would be emitted twice
            return cand.alias("c").join(
                settled.alias("s"),
                F.col("c.node").eqNullSafe(F.col("s.node")), "left_anti")

        # settled starts EMPTY (not at the source): the constant itself is a
        # solution only when actually re-reached (self-loop / cycle — p+
        # semantics), so the first frontier must not be anti-joined away
        run = fixpoint(_id_frame(spark, id_type, node=[const]), expand, None,
                       128, settled=_id_frame(spark, id_type, node=[]),
                       name="reach")
        return run.settled if run.converged else None

    def compile_one(p):
        subj, pred_t, obj = p
        if _is_path(pred_t):
            # the pred slot is consumed by the path; match its (src, dst)
            # endpoint pairs like any other pattern
            df = None
            seqs = _parse_path(pred_t)
            if (len(seqs) == 1 and len(seqs[0]) == 1
                    and seqs[0][0][2] in ("+", "*")
                    and is_var(subj) != is_var(obj)):
                inv, spec, mod = seqs[0][0]
                df = reach_pairs(inv, spec, mod,
                                 obj if is_var(subj) else subj,
                                 const_is_obj=is_var(subj))
            if df is None:
                df = compile_path(pred_t,
                                  [t for t in (subj, obj) if not is_var(t)])
            terms = (("src_id", subj), ("dst_id", obj))
        else:
            df = edges.select(*slots)
            terms = tuple(zip(slots, p))
        seen = {}
        out = []
        for slot, term in terms:
            if is_var(term):
                name = term[1:]
                if name in seen:          # ?x p ?x → intra-row equality
                    df = df.where(F.col(slot) == F.col(seen[name]))
                else:
                    seen[name] = slot
                    out.append(F.col(slot).alias(name))
            else:
                df = df.where(F.col(slot) == F.lit(term))
        return df.select(*out), set(seen)

    pstats = None
    if stats is not None:
        st = predicate_stats(edges) if stats is True else stats
        if isinstance(st, DataFrame):
            # bounded collect: one row per predicate (verb-lemma vocabulary)
            pstats = {r["pred"]: (int(r["n_edges"]), int(r["n_src_nodes"]),
                                  int(r["n_dst_nodes"]))
                      for r in st.select("pred", "n_edges", "n_src_nodes",
                                         "n_dst_nodes").collect()}
        elif isinstance(st, dict):
            pstats = {k: (int(v), None, None) for k, v in st.items()}
        else:
            raise ValueError("stats must be True, a predicate_stats frame, "
                             "or a {pred: n_edges} dict")
    total = float(sum(v[0] for v in pstats.values())) if pstats else 1e9

    def estimate(p):
        """Estimated scan size of one pattern, in rows when stats are given,
        in consistent abstract units otherwise — only the ORDER matters."""
        subj, pred_t, obj = p
        n_src = n_dst = None
        if isinstance(pred_t, str) and is_var(pred_t):
            est = total
        elif _is_path(pred_t):
            def step_est(spec):
                if isinstance(spec, tuple):     # negated set ≈ total − excluded
                    if pstats is None:
                        return total / 2.0
                    _, fwd, bwd = spec
                    e = 0.0
                    for names in (fwd, bwd):
                        if names:
                            e += max(total - sum(pstats.get(n, (0, 0, 0))[0]
                                                 for n in names), 0.0)
                    return e
                return (float(pstats.get(spec, (0, 0, 0))[0])
                        if pstats is not None else total / 1e3)

            specs = [spec for seq in _parse_path(pred_t)
                     for _, spec, _ in seq]
            est = float(sum(step_est(s) for s in specs))
            if "+" in pred_t or "*" in pred_t:
                est *= 4.0   # a closure is a superset of its predicate scan
            if "*" in pred_t or "?" in pred_t:
                est += 1.0   # zero-length arm adds the node set
        else:
            if pstats is not None:
                est, n_src, n_dst = pstats.get(pred_t, (0, None, None))
                est = float(est)
            else:
                est = total / 1e3
        if not is_var(subj):
            est /= max(float(n_src) if n_src else 1e3, 1.0)
        if not is_var(obj):
            est /= max(float(n_dst) if n_dst else 1e3, 1.0)
        return est

    def compile_group(pats):
        order = _order_patterns([estimate(p) for p in pats],
                                [pat_vars(p) for p in pats])
        result, have = compile_one(pats[order[0]])
        for i in order[1:]:
            df, vs = compile_one(pats[i])
            result = result.join(df, sorted(vs & set(have)))
            have |= vs
        return result, have

    result, have = compile_group(patterns)
    for g in union_groups:
        if not g:
            raise ValueError("a union group must not be empty")
        gdf, gvars = compile_group(g)
        # SPARQL UNION: bag-merge of solution multisets; a variable absent
        # from one branch is unbound (NULL) in that branch's rows
        result = result.unionByName(gdf, allowMissingColumns=True)
        have |= gvars
    for sdf in (sub or []):
        if not isinstance(sdf, DataFrame):
            raise ValueError("sub takes solution DataFrames (inner-query "
                             f"results), got {type(sdf).__name__}")
        shared = sorted(set(sdf.columns) & have)
        if shared:
            # the spec's compatibility join on every shared variable
            result = result.join(sdf, shared)
        else:
            # disjoint domains: the spec's product — broadcast, for the
            # one-row aggregate-subquery idiom (documented small-side
            # contract; share a variable for anything row-proportional)
            result = result.crossJoin(F.broadcast(sdf))
        have |= set(sdf.columns)
    if values is not None:
        if isinstance(values, dict):
            pairs = [(v, list(consts)) for v, consts in values.items()]
            for v, consts in pairs:
                if v not in have:
                    raise ValueError(f"values variable {v!r} is not bound "
                                     f"(bound: {sorted(have)})")
                if not consts:
                    raise ValueError(f"values for {v!r} must not be empty")
                if any(c is None for c in consts):
                    raise ValueError("UNDEF (None) is not supported in "
                                     "values — split the query instead")
                # unbound (NULL, e.g. from a union branch that does not bind
                # v) stays — SPARQL compatibility keeps such solutions
                result = result.where(F.col(v).isNull()
                                      | F.col(v).isin(consts))
        else:
            try:
                vvars, rows = values
                vvars = list(vvars)
                rows = [tuple(r) for r in rows]
            except (TypeError, ValueError):
                raise ValueError(
                    "values must be a {var: [consts]} dict or a "
                    "(vars, rows) pair") from None
            missing = [v for v in vvars if v not in have]
            if missing:
                raise ValueError(f"values variables {missing} are not bound "
                                 f"(bound: {sorted(have)})")
            if not rows or any(len(r) != len(vvars) for r in rows):
                raise ValueError("values rows must be non-empty and match "
                                 f"the variable list {vvars}")
            if any(c is None for r in rows for c in r):
                raise ValueError("UNDEF (None) is not supported in values — "
                                 "split the query instead")
            # no distinct: VALUES is a bag join per the spec — duplicate
            # binding rows multiply matching solutions
            lit = edges.sparkSession.createDataFrame(rows, vvars)
            result = result.join(F.broadcast(lit), vvars)
    groups = [list(g) for g in (optional or [])]
    for g in groups:
        if not g:
            raise ValueError("an optional group must not be empty")
        gdf, gvars = compile_group(g)
        shared = sorted(gvars & have)
        if not shared:
            raise ValueError(
                "an optional group must share ≥1 variable with the required "
                f"patterns (group binds {sorted(gvars)}) — an unshared group "
                "would be a cartesian product")
        result = result.join(gdf, shared, "left")
        have |= gvars
    for g in minus_groups:
        if not g:
            raise ValueError("a minus group must not be empty")
        gdf, gvars = compile_group(g)
        shared = sorted(gvars & have)
        if not shared:
            raise ValueError(
                "a minus group must share ≥1 variable with the solutions "
                f"(group binds {sorted(gvars)}) — SPARQL defines the "
                "disjoint-domain case as a no-op, which is almost certainly "
                "a query bug; split the query if you mean it")
        # MINUS variables never project into the output — anti-join only
        result = result.join(gdf, shared, "left_anti")
    bind = dict(bind or {})
    for v, expr in bind.items():
        if v in have:
            raise ValueError(
                f"bind would reassign {v!r} (bound: {sorted(have)}) — "
                "SPARQL forbids BIND onto an in-scope variable")
        result = result.withColumn(
            v, F.expr(expr) if isinstance(expr, str) else expr)
        have.add(v)
    for keep, g in exists_groups:
        kind = "exists" if keep else "not_exists"
        if not g:
            raise ValueError(f"a {kind} group must not be empty")
        gdf, gvars = compile_group(g)
        shared = sorted(gvars & have)
        if shared:
            result = result.join(gdf, shared,
                                 "left_semi" if keep else "left_anti")
        else:
            # uncorrelated EXISTS: one boolean over the whole group — a
            # one-row broadcast flag (limit-1 bounds the group scan), the
            # macro-F1 crossJoin shape
            flag = gdf.limit(1).agg(F.count(F.lit(1)).alias("_exists"))
            result = (result.crossJoin(F.broadcast(flag))
                      .where(F.col("_exists") == F.lit(1 if keep else 0))
                      .drop("_exists"))
    if filter is not None:
        conds = filter if isinstance(filter, (list, tuple)) else [filter]
        if not conds:
            raise ValueError("filter must not be an empty list")
        for c in conds:
            result = result.where(F.expr(c) if isinstance(c, str) else c)
    first_seen = []
    for p in (patterns + [p for g in union_groups for p in g]
              + [p for g in groups for p in g]):
        for t in p:
            if is_var(t) and t[1:] not in first_seen:
                first_seen.append(t[1:])
    for sdf in (sub or []):
        first_seen += [c for c in sdf.columns if c not in first_seen]
    first_seen += [v for v in bind if v not in first_seen]
    result = result.select(*first_seen)
    out_cols = first_seen
    if agg is not None or group_by is not None:
        if not agg:
            raise ValueError(
                "group_by needs agg: at least one {name: aggregate} entry "
                "(GROUP BY with no aggregates is just distinct=True)")
        keys = list(group_by or [])
        unknown = [k for k in keys if k not in first_seen]
        if unknown:
            raise ValueError(f"group_by variables {unknown} are not bound "
                             f"(bound: {first_seen})")
        clash = [n for n in agg if n in keys]
        if clash:
            raise ValueError(f"agg names {clash} collide with group_by keys")
        exprs = [(F.expr(a) if isinstance(a, str) else a).alias(n)
                 for n, a in agg.items()]
        result = (result.groupBy(*keys).agg(*exprs) if keys
                  else result.agg(*exprs))
        out_cols = keys + list(agg)
    elif having is not None:
        raise ValueError("having needs agg / group_by")
    if having is not None:
        conds = having if isinstance(having, (list, tuple)) else [having]
        if not conds:
            raise ValueError("having must not be an empty list")
        for c in conds:
            result = result.where(F.expr(c) if isinstance(c, str) else c)
    sel = None
    if select is not None:
        sel = list(select)
        missing = [v for v in sel if v not in out_cols]
        if not sel or missing:
            raise ValueError(
                f"select must be a non-empty subset of the bound variables "
                f"{out_cols}; unknown: {missing}")
    sort_cols = None
    if order_by is not None:
        sort_cols = []
        for o in order_by:
            if isinstance(o, str):
                sort_cols.append(F.col(o[1:]).desc() if o.startswith("-")
                                 else F.col(o))
            else:
                sort_cols.append(o)
        if not sort_cols:
            raise ValueError("order_by must not be an empty list")
    if distinct:
        # set semantics: project, dedupe, THEN sort — sort keys must be
        # projected (ordering a deduped bag on a dropped column is undefined)
        if sel is not None:
            result = result.select(*sel)
        result = result.distinct()
        if sort_cols is not None:
            result = result.orderBy(*sort_cols)
    else:
        # the spec's OrderBy-before-Project: sort keys MAY be non-projected
        # variables; Catalyst still collapses sort+project+limit into
        # TakeOrderedAndProject
        if sort_cols is not None:
            result = result.orderBy(*sort_cols)
        if sel is not None:
            result = result.select(*sel)
    if offset:
        result = result.offset(int(offset))
    if limit is not None:
        result = result.limit(int(limit))
    return result


def label_propagation(edges: DataFrame, max_iter: int = 10,
                      weighted: bool = False) -> DataFrame:
    """Community detection over the (undirected simple view of the) edges table
    via synchronous label propagation (Raghavan, Albert & Kumara 2007, "Near
    linear time algorithm to detect community structures in large-scale
    networks") → (node_id, community). Communities are the mesoscale read
    between components (too coarse: one giant component) and triangles/coreness
    (too local) — the "which entity neighborhoods form topics" pass a KG
    curation run takes before sampling or summarizing.

    Every node starts labeled with its own id; each iteration every node adopts
    the most frequent label among its neighbors PLUS ITSELF. Including the
    node's own label makes the update a deterministic function with no
    oscillation escape hatch needed (plain synchronous LPA can 2-cycle on
    bipartite structure; the self-vote breaks the symmetry) and ties break to
    the SMALLEST label — the whole update is exact integer voting, so runs are
    bit-reproducible across partitionings and engines (no random tie-breaks, no
    floats). Converges when no label changes; ``max_iter`` is a budget
    (NotConvergedWarning when it runs out first, operators/fixpoint.py).

    Per iteration: one equi-join of the neighbor table against the node-bounded
    label frame, one (node, label) count (map-side combinable), one per-node
    min-struct argmax — edge-volume shuffles only, never a cartesian; the label
    frame is localCheckpoint-ed per iteration (CC's lineage discipline). Label
    counting shuffles on (node, label), which splits hub traffic across the
    hub's distinct neighbor labels — milder than a plain per-node key.

    ``weighted=True`` votes with the INTEGER edge weight (``n_occurrences``
    summed per undirected pair across directions and parallel predicates)
    instead of 1 per neighbor — attestation-weighted communities, the right
    read on a KG where one co-occurrence and a thousand are not equal
    evidence. Voting stays exact integer arithmetic, so runs remain
    bit-reproducible; the self-vote keeps weight 1 in both modes (it is the
    determinism stabilizer, not an evidence term)."""
    und = (edges.select(F.least("src_id", "dst_id").alias("u"),
                        F.greatest("src_id", "dst_id").alias("v"),
                        F.col("n_occurrences").cast("long").alias("w")))
    if weighted:
        und = (und.where(F.col("u") != F.col("v"))
               .groupBy("u", "v").agg(F.sum("w").alias("w")))
    else:
        und = (und.select("u", "v").where(F.col("u") != F.col("v"))
               .distinct().withColumn("w", F.lit(1).cast("long")))
    nbrs = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"), "w")
            .unionAll(und.select(F.col("v").alias("node"),
                                 F.col("u").alias("nbr"), "w")))
    # keyed on the per-iteration join key BEFORE the checkpoint: the
    # edge-volume voting side is exchanged once here, not once per
    # iteration (guide §2.4; _undirected_adj's discipline)
    nbrs = _key_repartition(nbrs, "nbr").localCheckpoint(eager=False)
    labels = (nbrs.select("node").distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint())

    def step(labels, it):
        nbr_labels = nbrs.join(
            labels.select(F.col("node").alias("nbr"), "label"), "nbr")
        votes = (nbr_labels.select("node", "label", "w")
                 .unionAll(labels.select("node", "label",
                                         F.lit(1).cast("long").alias("w")))
                 .groupBy("node", "label")
                 .agg(F.sum("w").alias("n")))
        # the round's input label joins in node-keyed, so the changed count
        # is an aggregate over the round's own frame
        return (votes.groupBy("node")
                .agg(F.min(F.struct(F.negate(F.col("n")).alias("neg_n"),
                                    F.col("label").alias("label"))).alias("top"))
                .select("node", F.col("top.label").alias("label"))
                .join(labels.select("node",
                                    F.col("label").alias("__old")), "node"))

    changed = F.sum(F.when(F.col("label") != F.col("__old"), 1).otherwise(0))
    labels = fixpoint(
        labels, step, [changed], max_iter, budget="max_iter",
        name="label_propagation",
        materialize=lambda df, it: df.select("node", "label").localCheckpoint(),
    ).state
    return labels.select(F.col("node").alias("node_id"),
                         F.col("label").alias("community"))


def bfs_distances(edges: DataFrame, sources: list, max_hops: int = 20,
                  directed: bool = False, parents: bool = False) -> DataFrame:
    """Multi-source BFS over the edges table → (node_id, distance): the exact
    hop distance from the nearest source, for every node reachable within
    ``max_hops``. The point query behind "how far is every entity from this
    seed set" — provenance radius around trusted seeds, staleness horizons
    around updated entities, ego-network extraction. Complements
    neighborhood_function (which estimates the global distance DISTRIBUTION
    with sketches); this is the exact per-node read for one seed set, linear
    state where the all-pairs version would be quadratic.

    Standard frontier expansion: per hop, join the (node-bounded) frontier
    against the adjacency list, anti-join out already-settled nodes, settle the
    rest at distance h — each hop is one equi-join + one left-anti join +
    dedup, all on node keys; the settled frame is localCheckpoint-ed per hop.
    Early exit on an empty frontier (diameter reached). ``directed=True``
    follows src→dst arcs only; default is the undirected view every other
    analytics operator here uses.

    ``parents=True`` adds a ``parent`` column — the predecessor on ONE
    shortest path (the min-id frontier neighbor, so the whole shortest-path
    tree is deterministic and engine-portable; sources get NULL). Following
    ``parent`` pointers upward reconstructs an actual path, the evidence a
    "how are these two entities related" query has to show."""
    if not sources:
        raise ValueError("bfs_distances needs a non-empty source set")
    spark = edges.sparkSession
    adj = _undirected_adj(edges, directed)
    id_type = edges.schema["src_id"].dataType   # ids are opaque — match it
    frontier = (_id_frame(spark, id_type, node=list(set(sources)))
                .withColumn("distance", F.lit(0)))
    if parents:
        frontier = frontier.withColumn("parent", F.lit(None).cast(id_type))

    def expand(frontier, settled, it):
        reached = adj.join(frontier.select("node"), "node")
        if parents:
            nxt = (reached.groupBy(F.col("nbr").alias("child"))
                   .agg(F.min("node").alias("parent"))
                   .withColumnRenamed("child", "node"))
        else:
            nxt = reached.select(F.col("nbr").alias("node")).distinct()
        nxt = (nxt.join(settled.select("node"), "node", "left_anti")
               .withColumn("distance", F.lit(it + 1)))
        return nxt.select("node", "distance", "parent") if parents else nxt

    settled = fixpoint(frontier, expand, None, max_hops, settled=frontier,
                       name="bfs").settled
    cols = ["distance", "parent"] if parents else ["distance"]
    return settled.select(F.col("node").alias("node_id"), *cols)


def predicate_stats(edges: DataFrame) -> DataFrame:
    """Per-predicate schema summary of the edges table → (pred, n_edges,
    n_src_nodes, n_dst_nodes, sum_occurrences, max_occurrences): the "what
    relations does this KG actually contain, and how do they behave" read that
    precedes any query planning or ontology mapping. Functionality is exposed
    as exact integers — a predicate is near-functional when n_edges ≈
    n_src_nodes (each subject has ~one object) and near-inverse-functional
    when n_edges ≈ n_dst_nodes — so thresholding never touches float division.

    One pass: a single groupBy(pred) with count-distinct on each endpoint.
    Distinct-counting two columns in one aggregate expands internally; the
    predicate vocabulary is tiny (verb lemmas), so the expansion shuffles on
    (pred, endpoint) keys and stays corpus-linear with map-side partials."""
    return (edges.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.countDistinct("src_id").alias("n_src_nodes"),
        F.countDistinct("dst_id").alias("n_dst_nodes"),
        F.sum("n_occurrences").cast("long").alias("sum_occurrences"),
        F.max("n_occurrences").cast("long").alias("max_occurrences")))


def edge_diff(edges_old: DataFrame, edges_new: DataFrame) -> DataFrame:
    """Generation-to-generation KG diff → (src_id, pred, dst_id, status,
    n_occurrences_old, n_occurrences_new): status ``added`` / ``removed`` /
    ``changed`` (occurrence count moved) / ``unchanged``. The audit read after
    every ``ingest_delta``: "what did this batch actually do to the graph" —
    on a maintained KG the diff is the deliverable a reviewer signs off on,
    and at 10^12 documents it is also the only affordable one (the full graph
    is too large to eyeball; the diff is delta-sized).

    One full-outer equi-join on the triple key, nothing else — the key is the
    natural hash-partition key on both sides, so at scale this is one shuffle
    of each generation (or zero if both generations were written bucketed by
    the same key, the Iceberg layout build_edges_table prescribes). Filter
    ``status != 'unchanged'`` BEFORE collecting/writing: Catalyst pushes that
    predicate into the post-join project, so the materialized result is
    delta-sized even though the join touches both generations."""
    key = ["src_id", "pred", "dst_id"]
    o = edges_old.select(*key, F.col("n_occurrences").alias("n_occurrences_old"))
    n = edges_new.select(*key, F.col("n_occurrences").alias("n_occurrences_new"))
    joined = o.join(n, key, "full_outer")
    status = (F.when(F.col("n_occurrences_old").isNull(), F.lit("added"))
              .when(F.col("n_occurrences_new").isNull(), F.lit("removed"))
              .when(F.col("n_occurrences_old") != F.col("n_occurrences_new"),
                    F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return joined.select(*key, status.alias("status"),
                         "n_occurrences_old", "n_occurrences_new")


def ego_subgraph(edges: DataFrame, sources: list, k: int = 2,
                 directed: bool = False) -> DataFrame:
    """The induced subgraph on the k-hop ball around ``sources`` — every edge
    row (all columns kept) whose BOTH endpoints sit within ``k`` hops of the
    seed set. The extraction read behind "show me the neighborhood of this
    entity": debugging an extraction, exporting a review sample, or feeding a
    subgraph to an in-memory tool that could never hold the full KG.

    Composition, not a new engine: :func:`bfs_distances` computes the
    ball (frontier-bounded, see its cost note), then two left-semi joins
    restrict the edges table to it. The semi-joins are ball-keyed — at scale
    the output is neighborhood-sized while the scan prunes on the bucketed
    src_id layout; never corpus-volume state."""
    ball = (bfs_distances(edges, sources, max_hops=k, directed=directed)
            .select(F.col("node_id").alias("node"))
            .localCheckpoint(eager=False))
    return (edges
            .join(ball.withColumnRenamed("node", "src_id"), "src_id",
                  "left_semi")
            .join(ball.withColumnRenamed("node", "dst_id"), "dst_id",
                  "left_semi")
            .select(*edges.columns))


def transitive_closure(edges: DataFrame, pred: str | None = None,
                       max_iter: int = 16) -> DataFrame:
    """Reachability closure over (optionally one predicate of) the edges table
    → (src_id, dst_id, distance): every ordered pair connected by a directed
    path, with the exact shortest hop count. The SPARQL property-path ``p+``
    — the query behind every hierarchy predicate ("all ancestors of X",
    "everything located_in Europe, transitively") that a fixed-length
    :func:`match_pattern` cannot express.

    Iterative DOUBLING on the min-plus semiring: each round self-joins the
    current pair set (reaching depth 2^k after k rounds, so a diameter-d
    closure needs ⌈log2 d⌉ + 1 rounds, not d), re-aggregates to the min
    distance, and stops when a round adds no pair and improves no distance —
    log-round convergence is what makes deep chains affordable where
    edge-at-a-time expansion would run diameter-many shuffles. Cycles are
    fine: pairs are keyed (src, dst) with min-distance aggregation, so the
    state is closure-bounded and monotone (a node on a cycle reaches itself —
    SPARQL ``p+`` semantics). Each round: ONE mid-keyed equi-join + one
    map-side-combinable min aggregate, localCheckpoint-ed (lineage doubles per
    round otherwise).

    Scale honesty: the OUTPUT is the closure, which is quadratic on a dense
    strongly-connected graph — this operator is for the predicates whose
    closure is meaningful (hierarchies, containment: forest-like, closure ≈
    depth × nodes). Filter with ``pred`` (pushed to the scan) rather than
    closing the whole multigraph."""
    base = edges
    if pred is not None:
        base = base.where(F.col("pred") == F.lit(pred))
    # self-loop edges STAY: p+ must contain p (a (v, p, v) edge means v
    # reaches v in one hop) — dropping them would make the transitive pattern
    # match fewer pairs than the single-hop pattern, which SPARQL forbids
    # the state is MONOTONE — pairs are only ever added (unionAll keeps every
    # old key) and min-aggregated distances only ever decrease — so "no new
    # pair and no improved distance" ⟺ (row count, Σ distance) both unchanged
    size = [F.count(F.lit(1)), F.sum("distance")]
    paths, prev = observed(base.select("src_id", "dst_id").distinct()
                           .withColumn("distance", F.lit(1).cast("long")), size)

    def step(paths, it):
        hop = paths.select(F.col("src_id").alias("mid"),
                           F.col("dst_id"),
                           F.col("distance").alias("d2"))
        grown = (paths.select("src_id", F.col("dst_id").alias("mid"),
                              F.col("distance").alias("d1"))
                 .join(hop, "mid")
                 .select("src_id", "dst_id",
                         (F.col("d1") + F.col("d2")).alias("distance")))
        return (paths.unionAll(grown)
                .groupBy("src_id", "dst_id")
                .agg(F.min("distance").alias("distance")))

    return fixpoint(paths, step, size, max_iter, until=unchanged, prev=prev,
                    budget="max_iter", name="transitive_closure").state


def shortest_paths(edges: DataFrame, sources: list,
                   weight_col: str | None = None, max_iter: int = 30,
                   directed: bool = False) -> DataFrame:
    """Weighted single-source-set shortest distances over the edges table →
    (node_id, cost): the minimum total edge cost from the nearest source, for
    every reachable node. With ``weight_col=None`` every edge costs 1 and this
    degenerates to hop counting (:func:`bfs_distances` is then the cheaper
    operator — use it); with a cost column (e.g. ``-log p`` pre-quantized to
    integer micro-units, or plain ``n_occurrences`` inverted upstream) this is
    the "most reliable connection" read between a seed set and the rest of the
    KG. Costs must be POSITIVE; keep them integer so min-plus stays exact and
    any oracle compares integers (the avg_confidence micro-unit discipline).

    Bellman-Ford as iterated min-plus relaxation: per round, one equi-join of
    the current (node-bounded) cost frame against the adjacency list, one
    min aggregate merging relaxed candidates with current costs — converges in
    ≤ (longest shortest path in edges) rounds, early-exits when a round
    improves nothing, and the frame is localCheckpoint-ed per round; a
    ``max_iter`` that runs out first warns (NotConvergedWarning) because the
    returned costs are then upper bounds. Unlike Dijkstra there is no priority
    queue to serialize through — every relaxation in a round runs data-parallel,
    which is the standard distributed trade (more rounds, each embarrassingly
    parallel)."""
    if not sources:
        raise ValueError("shortest_paths needs a non-empty source set")
    spark = edges.sparkSession
    w = (F.col(weight_col).cast("long") if weight_col is not None
         else F.lit(1).cast("long"))
    arcs = edges.select(F.col("src_id").alias("node"),
                        F.col("dst_id").alias("nbr"), w.alias("w"))
    if not directed:
        arcs = arcs.unionAll(edges.select(
            F.col("dst_id").alias("node"), F.col("src_id").alias("nbr"),
            w.alias("w")))
    arcs = (arcs.where(F.col("node") != F.col("nbr"))
            .groupBy("node", "nbr").agg(F.min("w").alias("w")))
    # keyed on the relaxation join key — one exchange, not one per
    # Bellman-Ford round (guide §2.4)
    arcs = _key_repartition(arcs, "node").localCheckpoint(eager=False)
    dist = (_id_frame(spark, edges.schema["src_id"].dataType,
                      node=list(set(sources)))
            .withColumn("cost", F.lit(0).cast("long")))

    def step(dist, it):
        relaxed = (arcs.join(dist, "node")
                   .select(F.col("nbr").alias("node"),
                           (F.col("cost") + F.col("w")).alias("cost")))
        return (dist.unionAll(relaxed)
                .groupBy("node").agg(F.min("cost").alias("cost")))

    # the relaxation state is MONOTONE — nodes are only added and
    # min-aggregated costs only decrease — so "nothing improved" ⟺ (row
    # count, Σ cost) both unchanged; a truncated run returns upper bounds
    dist = fixpoint(dist, step, [F.count(F.lit(1)), F.sum("cost")], max_iter,
                    until=unchanged, prev=(len(set(sources)), 0),
                    budget="max_iter", name="shortest_paths").state
    return dist.select(F.col("node").alias("node_id"), "cost")


def community_stats(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Per-community summary over a (node_id, community) assignment (e.g.
    :func:`label_propagation` output, or components) → (community, n_nodes,
    n_intra_edges, n_boundary_edges, degree_sum): the exact integer inputs to
    any partition-quality score — modularity's per-community term is
    ``n_intra/m − (degree_sum/2m)²`` with ``m = Σ n_intra + Σ n_boundary/2`` —
    kept as integers so the expensive part is engine-checkable and the float
    division happens once, caller-side, not per row.

    Two joins attach each undirected edge's endpoint communities; edges then
    classify as intra (same) or boundary (different, counted toward BOTH
    sides); degree_sum aggregates member degree. Edge-volume equi-joins +
    map-side-combinable counts — the assignment frame is node-bounded, and AQE
    broadcasts it when small.

    A PARTIAL assignment (nodes missing from ``communities``) is evaluated on
    the INDUCED subgraph: edges with an unassigned endpoint are excluded from
    intra/boundary AND from degree_sum, so the three counts stay mutually
    consistent and the modularity identities (Σ intra + Σ boundary/2 = m,
    Σ degree_sum = 2m) hold with m = induced edge count — mixing full degrees
    with induced edge counts would feed the formula inconsistent inputs."""
    und = (edges.select(F.least("src_id", "dst_id").alias("u"),
                        F.greatest("src_id", "dst_id").alias("v"))
           .where(F.col("u") != F.col("v")).distinct()
           .localCheckpoint(eager=False))
    cu = communities.select(F.col("node_id").alias("u"),
                            F.col("community").alias("c_u"))
    cv = communities.select(F.col("node_id").alias("v"),
                            F.col("community").alias("c_v"))
    tagged = und.join(cu, "u").join(cv, "v").localCheckpoint(eager=False)
    intra = (tagged.where(F.col("c_u") == F.col("c_v"))
             .groupBy(F.col("c_u").alias("community"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_intra_edges")))
    boundary = (tagged.where(F.col("c_u") != F.col("c_v"))
                .select(F.explode(F.array("c_u", "c_v")).alias("community"))
                .groupBy("community")
                .agg(F.count(F.lit(1)).cast("long").alias("n_boundary_edges")))
    # degree over the SAME induced edge set the intra/boundary counts use
    nbrs = (tagged.select(F.col("u").alias("node"))
            .unionAll(tagged.select(F.col("v").alias("node"))))
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    members = (communities
               .join(deg, communities["node_id"] == deg["node"], "left")
               .groupBy("community")
               .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                    F.coalesce(F.sum("deg"), F.lit(0)).cast("long")
                    .alias("degree_sum")))
    return (members.join(intra, "community", "left")
            .join(boundary, "community", "left")
            .select("community", "n_nodes",
                    F.coalesce("n_intra_edges", F.lit(0)).cast("long")
                    .alias("n_intra_edges"),
                    F.coalesce("n_boundary_edges", F.lit(0)).cast("long")
                    .alias("n_boundary_edges"),
                    "degree_sum"))


def construct_edges(edges: DataFrame, body: list, head,
                    optional: list | None = None, filter=None,
                    stats=None) -> DataFrame:
    """SPARQL CONSTRUCT / rule materialization: match ``body`` (and optional
    groups) like :func:`match_pattern`, then emit one INFERRED edge per head
    binding → (src_id, pred, dst_id, n_support). ``head`` is ONE
    ``(subj, "new_pred", obj)`` triple or a LIST of them (the spec's
    multi-triple template — the body matches ONCE, checkpointed and shared
    across heads). A head endpoint is a body-bound ``?variable`` or a
    CONSTANT (type-tagging rules like ``(?p, "rdf:type", person_id)`` —
    cast to the edges id type); the predicate must be a plain constant (a
    variable predicate would mint one relation per binding, a path is not
    a triple). The consumer of :func:`predicate_paths` discoveries: once
    the bigram stats say ``works_at ∘ located_in`` composes, the rule ::

        construct_edges(edges,
                        [("?p", "works_at", "?org"), ("?org", "located_in", "?c")],
                        ("?p", "works_in", "?c"))

    materializes the ``works_in`` edges, with ``n_support`` = how many distinct
    body bindings derived each pair (the rule-confidence input). Inferred rows
    dedupe on the (src, pred, dst) key per head — union them into the edges
    table (or a new generation) to close the inference loop. Cost = the body
    match + one (src, dst)-keyed count per head; nothing beyond the
    matcher's own shape."""
    heads = [head] if isinstance(head, tuple) else [tuple(h) for h in head]
    if not heads:
        raise ValueError("construct_edges needs at least one head triple")
    for h in heads:
        if len(h) != 3:
            raise ValueError(f"head {h!r} is not a (subj, pred, obj) triple")
        new_pred = h[1]
        if isinstance(new_pred, str) and new_pred.startswith("?"):
            raise ValueError(
                "the head predicate must be a constant — a variable "
                "predicate would mint one relation per binding")
        if _is_path(new_pred):
            raise ValueError(f"the head predicate must be plain, not a "
                             f"property path ({new_pred!r})")
    sol = match_pattern(edges, body, optional=optional, filter=filter,
                        stats=stats)
    if len(heads) > 1:
        sol = sol.localCheckpoint(eager=False)
    id_t = dict(edges.dtypes)["src_id"]

    def is_var(t):
        return isinstance(t, str) and t.startswith("?")

    frames = []
    for s_term, new_pred, o_term in heads:
        h = sol
        cols = []
        for term, alias in ((s_term, "src_id"), (o_term, "dst_id")):
            if is_var(term):
                if term[1:] not in sol.columns:
                    raise ValueError(
                        f"head variable {term} is not bound by the body "
                        f"(bound: {sol.columns})")
                # SPARQL CONSTRUCT semantics: a solution where a head
                # variable is unbound (an unmatched OPTIONAL) produces NO
                # triple — never a NULL-endpoint edge
                h = h.where(F.col(term[1:]).isNotNull())
                cols.append(F.col(term[1:]).alias(alias))
            else:
                cols.append(F.lit(term).cast(id_t).alias(alias))
        frames.append(
            h.groupBy(*cols)
            .agg(F.count(F.lit(1)).cast("long").alias("n_support"))
            .select("src_id", F.lit(new_pred).alias("pred"), "dst_id",
                    "n_support"))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def materialize_rules(edges: DataFrame, rules: list, max_rounds: int = 30,
                      include_base: bool = True) -> DataFrame:
    """Datalog-style FORWARD CHAINING to FIXPOINT over the edges table — the
    KG inference loop (RDFS-flavored reasoning: transitive subsumption, type
    inheritance along a hierarchy, composed relations), the recursive sibling
    of the single-shot :func:`construct_edges`. ``rules`` is a list of
    ``(body, head)`` pairs: body = plain ``(subj, pred, obj)`` triple
    patterns (``?vars``; property paths are rejected — a rule that wants
    ``p+`` IS the closure rule, write the transitivity rule instead), head =
    one ``(subj, "new_pred", obj)`` template or a list of them (endpoints
    body-bound variables or constants, predicate a plain constant). Heads
    may (re)produce body predicates — that is what makes programs recursive,
    including mutually recursive rule sets. Returns the saturated triple SET
    (src_id, pred, dst_id) — inference is set semantics — or only the
    inferred delta with ``include_base=False``.

    Evaluation is SEMI-NAIVE (the textbook Datalog discipline): per round,
    each k-atom body is evaluated k times with atom i restricted to the last
    round's DELTA, atoms before it to the PRE-delta state and atoms after it
    to the full known state — every derivation therefore uses ≥1 new fact
    exactly once, so no join is re-derived and per-round work is
    delta-driven, not store-driven (the difference between O(rounds·store)
    naive chaining and something a 100 TB store survives). Candidate heads
    distinct + anti-join against the known store (the novelty check) form
    the next delta; the loop exits on an empty delta (fixpoint — guaranteed
    on the finite node×pred space) or warns at ``max_rounds``. Each body
    evaluation is connectivity-ordered equi-joins (disconnected bodies are
    rejected as cartesians, like :func:`match_pattern`); known/delta frames
    are localCheckpoint-ed per round (the CC lineage discipline)."""
    key3 = ("src_id", "pred", "dst_id")
    if not rules:
        raise ValueError("materialize_rules needs at least one (body, head) "
                         "rule")
    id_t = dict(edges.dtypes)["src_id"]
    norm: list = []
    for body, head in rules:
        body = [tuple(p) for p in body]
        heads = [tuple(head)] if isinstance(head, tuple) \
            else [tuple(h) for h in head]
        if not body or not heads:
            raise ValueError("a rule needs a non-empty body and head")
        bound = set()
        for p in body:
            if len(p) != 3:
                raise ValueError(f"body pattern {p!r} is not a triple")
            if _is_path(p[1]):
                raise ValueError(
                    f"property paths are not allowed in rule bodies "
                    f"({p[1]!r}) — a closure IS a rule; write transitivity")
            vs = {t[1:] for t in p if isinstance(t, str)
                  and t.startswith("?")}
            if not vs:
                raise ValueError(f"body pattern {p!r} has no variables")
            bound |= vs
        for s_t, pred_c, o_t in heads:
            if not isinstance(pred_c, str) or pred_c.startswith("?") \
                    or _is_path(pred_c):
                raise ValueError(
                    f"head predicate must be a plain constant ({pred_c!r})")
            for t in (s_t, o_t):
                if isinstance(t, str) and t.startswith("?") \
                        and t[1:] not in bound:
                    raise ValueError(f"head variable {t} is not bound by "
                                     f"the rule body ({sorted(bound)})")
        norm.append((body, heads))

    def scan(frame, p):
        df = frame
        seen, out = {}, []
        for slot, term in zip(key3, p):
            if isinstance(term, str) and term.startswith("?"):
                v = term[1:]
                if v in seen:
                    df = df.where(F.col(slot) == F.col(seen[v]))
                else:
                    seen[v] = slot
                    out.append(F.col(slot).alias(v))
            else:
                df = df.where(F.col(slot) == F.lit(term))
        return df.select(*out), set(seen)

    def eval_body(frames, body):
        comp = [scan(frames[i], p) for i, p in enumerate(body)]
        order = _order_patterns([0.0] * len(body),
                                [vs for _, vs in comp])
        res, have = comp[order[0]]
        for i in order[1:]:
            df, vs = comp[i]
            res = res.join(df, sorted(vs & have))
            have |= vs
        return res

    def inst_heads(sol, heads):
        frames = []
        for s_t, pred_c, o_t in heads:
            cols = []
            for term, alias in ((s_t, "src_id"), (o_t, "dst_id")):
                if isinstance(term, str) and term.startswith("?"):
                    cols.append(F.col(term[1:]).alias(alias))
                else:
                    cols.append(F.lit(term).cast(id_t).alias(alias))
            frames.append(sol.select(
                cols[0], F.lit(pred_c).alias("pred"), cols[1]))
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    spark = edges.sparkSession
    base = edges.select(*key3).distinct().localCheckpoint()
    old = None   # the pre-delta state: the store as the previous round saw it

    def step(delta, known, it):
        nonlocal old
        cands = []
        for body, heads in norm:
            k = len(body)
            # round 1's pre-delta state is empty, so a body with an atom on
            # it (i ≥ 1) derives nothing: skipped outright
            for i in range(k if it else 1):
                frames = [old] * i + [delta] + [known] * (k - 1 - i)
                cands.append(inst_heads(eval_body(frames, body), heads))
        old = known
        cand = cands[0]
        for fr in cands[1:]:
            cand = cand.unionByName(fr)
        return cand.distinct().join(known, list(key3), "left_anti")

    def materialize(df, it):
        # a checkpoint keeps the optimizer's size estimate of the plan it
        # cut, and without column statistics an inner join estimates the
        # PRODUCT of its inputs: each round joins the last delta against the
        # earlier store, so the inherited estimates multiply round over round
        # until, past ~20 rounds, they run to millions of digits and planning
        # stalls in BigInt arithmetic. Re-wrapping the checkpointed rows as a
        # plain RDD relation resets the estimate to the session default.
        ckpt = df.localCheckpoint()
        return DataFrame(spark._jsparkSession.internalCreateDataFrame(
            ckpt._jdf.queryExecution().toRdd(), ckpt._jdf.schema(), False),
            spark)

    known = fixpoint(base, step, None, max_rounds, settled=base,
                     materialize=materialize, budget="max_rounds",
                     name="materialize_rules").settled
    if include_base:
        return known
    return known.join(base, list(key3), "left_anti")


def harmonic_centrality(edges: DataFrame, max_hops: int = 8,
                        lg_config_k: int = 14) -> DataFrame:
    """Per-node harmonic centrality estimate over the (undirected simple view
    of the) edges table → (node_id, centrality): H(v) = Σ_{u≠v} 1/d(v, u),
    the standard "how close is this entity to everything" ranking — robust to
    disconnected graphs where raw closeness is undefined (unreachable nodes
    contribute 0, not ∞). Estimated per HyperANF (Boldi & Vigna's centrality
    read of the same sketch stream :func:`neighborhood_function` uses): each
    node keeps an HLL sketch of its h-ball, and the hop-h shell size
    |B(v,h)| − |B(v,h−1)| joins the sum at weight 1/h. Exact per-node BFS is
    quadratic; the sketch stream is one equi-join + one ``hll_union_agg`` per
    hop with a few KB of state per node — the only affordable shape at KG
    scale. Error per node ≈ the HLL band (~0.8% at the default lg_k=14, and
    near-exact below sketch saturation); runs to ``max_hops`` (contributions
    beyond shrink as 1/h)."""
    und = (edges.select(F.least("src_id", "dst_id").alias("u"),
                        F.greatest("src_id", "dst_id").alias("v"))
           .where(F.col("u") != F.col("v")).distinct())
    sym = (und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
           .unionAll(und.select(F.col("v").alias("node"),
                                F.col("u").alias("nbr"))))
    # keyed on the per-hop sketch join key (guide §2.4)
    sym = _key_repartition(sym, "nbr").localCheckpoint(eager=False)
    state = (sym.select("node").distinct()
             .groupBy("node")
             .agg(F.hll_sketch_agg(F.col("node").cast("string"),
                                   F.lit(lg_config_k)).alias("sk"))
             .withColumn("prev_est", F.hll_sketch_estimate("sk"))
             .withColumn("acc", F.lit(0.0))
             .localCheckpoint())

    def step(state, it):
        nbr_sk = (sym.join(state.select(F.col("node").alias("nbr"),
                                        F.col("sk").alias("nbr_sk")), "nbr")
                  .groupBy("node")
                  .agg(F.hll_union_agg("nbr_sk").alias("merged")))
        state = (state.join(nbr_sk, "node", "left")
                 .select("node",
                         F.when(F.col("merged").isNull(), F.col("sk"))
                         .otherwise(F.hll_union("sk", "merged")).alias("sk"),
                         "prev_est", "acc"))
        # the next hop's projections select columns explicitly, so the shell
        # column simply falls out of the plan
        return (state.withColumn("est", F.hll_sketch_estimate("sk"))
                .withColumn("shell",
                            F.greatest(F.col("est") - F.col("prev_est"),
                                       F.lit(0.0)))
                .select("node", "sk", F.col("est").alias("prev_est"),
                        (F.col("acc") + F.col("shell") / F.lit(float(it + 1)))
                        .alias("acc"), "shell"))

    # saturation = every ball stopped growing (diameter reached)
    state = fixpoint(state, step, [F.sum("shell")], max_hops,
                     name="harmonic").state
    return state.select(F.col("node").alias("node_id"),
                        F.col("acc").alias("centrality"))
