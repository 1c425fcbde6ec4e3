"""Canonicalization: connected components over the mention-similarity graph.

[KG-new] operators J3/J4 (SURVEY.md §2.6). Vertices are mention keys
("m:<type>:<norm>") and linked entity anchors ("e:<entity_id>"). Edges:
 * mention → its linked entity anchor (from entity linking);
 * mention → mention within a similarity block — blocked self-join (J3) on
   (type, last token of the normalized surface), which connects "сергей козлов",
   "козлов", "с . козлов" without an O(n²) cross join.

Components label each vertex with the min vertex id it reaches, on one of two
paths chosen by one measured collect of the edge frame
(``smallgraph.small_arrow``):

* up to ``smallgraph.KERNEL_ROWS`` edges whose Arrow bytes fit
  ``spark.sql.autoBroadcastJoinThreshold``, that collect feeds a vectorized
  numpy min-label kernel on the driver (``_components_arrow``), returned as a
  LocalRelation;
* over either, min-label propagation in Spark (the dataframe form of
  large-star/small-star): each iteration joins labels to the symmetric edge
  list, takes the min neighbor label, and is one job of the shared fixpoint
  driver (``fixpoint.py``: ``localCheckpoint`` cuts lineage, the changed count
  rides that job); stops when no label changes. Iterations are O(diameter);
  blocks are star-shaped (hub = block min) so this converges in 2-3
  iterations at any scale.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import fixpoint, observed
from .smallgraph import KERNEL_ROWS, encode, id_frame, reusable, small_arrow


def _mention_vertices(links: DataFrame) -> DataFrame:
    return links.select(
        F.concat(F.lit("m:"), F.col("mention_type"), F.lit(":"), F.col("mention_norm")).alias("v"),
        "mention_norm", "mention_type", "n_mentions", "entity_id",
    )


def build_edges(links: DataFrame) -> DataFrame:
    """(src, dst) edge list. Not deduplicated: both CC paths ignore repeated
    edges, and the Spark loop deduplicates its symmetric list anyway."""
    m = _mention_vertices(links)
    e_link = (
        m.where(F.col("entity_id").isNotNull())
        .select(F.col("v").alias("src"),
                F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"))
    )
    # similarity block: same type + crude stem of the last token — the SAME stem as
    # fuzzy linking (linking._stem), so fuzzy-linked mentions always co-block here;
    # connect each block member to the block min (star shape)
    from .linking import _stem

    bkey = _stem(F.col("mention_norm"))
    blocked = m.select(
        "v",
        F.col("mention_type").alias("btype"),
        bkey.alias("bkey"),
    )
    block_min = blocked.groupBy("btype", "bkey").agg(F.min("v").alias("hub"),
                                                     F.count(F.lit(1)).alias("bn"))
    e_block = (
        blocked.join(block_min, ["btype", "bkey"])
        .where((F.col("bn") > 1) & (F.col("v") != F.col("hub")))
        .select(F.col("v").alias("src"), F.col("hub").alias("dst"))
    )
    return e_link.unionByName(e_block)


def _read_cc_state(checkpoint_dir: str) -> dict | None:
    import json
    import os

    p = os.path.join(checkpoint_dir, "cc_state.json")
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            return json.load(f)
    except (ValueError, OSError):  # half-written state: ignore, restart from scratch
        return None


def _write_cc_state(checkpoint_dir: str, state: dict) -> None:
    import json
    import os

    tmp = os.path.join(checkpoint_dir, ".cc_state.json.tmp")
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, os.path.join(checkpoint_dir, "cc_state.json"))  # atomic


def _components_arrow(src: pa.ChunkedArray, dst: pa.ChunkedArray):
    """Connected components of the edges ``src — dst`` → ``(v, component)``
    Arrow arrays: every distinct id once, labelled with the min id of its
    component. The ids are encoded to codes in id order (``encode``), so the
    min code is the min id. Each round hooks every root to the smallest root
    across its edges (``np.minimum.at``), then shortcuts ``p = p[p]`` until
    every vertex points at its root; it stops when no edge joins two roots.
    A NULL id joins no other vertex and comes out once as ``(NULL, NULL)``,
    as an equi-join never matches NULL."""
    ids, s, d = encode(src, dst)
    has_null = bool((s < 0).any() or (d < 0).any())
    keep = (s >= 0) & (d >= 0)
    s, d = s[keep], d[keep]
    p = np.arange(len(ids))
    while True:
        ps, pd = p[s], p[d]
        cross = ps != pd
        if not cross.any():
            break
        ps, pd = ps[cross], pd[cross]
        np.minimum.at(p, np.concatenate([ps, pd]), np.concatenate([pd, ps]))
        while True:
            pp = p[p]
            if (pp == p).all():
                break
            p = pp
    v, component = ids, ids.take(pa.array(p))
    if has_null:
        null = pa.nulls(1, type=ids.type)
        v, component = (pa.concat_arrays([v, null]),
                        pa.concat_arrays([component, null]))
    return v, component


def connected_components(edges: DataFrame, max_iter: int = 25,
                         checkpoint_dir: str | None = None, checkpoint_every: int = 4,
                         on_iteration=None) -> DataFrame:
    """(v, component) for every vertex appearing in edges; component = min vertex id
    reachable.

    The (src, dst) frame is probed by one bounded Arrow collect
    (``smallgraph.small_arrow``), checkpointed lazily first unless its rows
    are already in its plan (``smallgraph.reusable``). When it holds at most
    ``smallgraph.KERNEL_ROWS`` edges within the broadcast budget, that collect
    is labelled on the driver (``_components_arrow``). Otherwise a
    checkpointed Spark loop, built on the frame the probe read (so the
    edges' plan runs once), runs until no label changes.
    ``max_iter``, ``checkpoint_dir``, ``checkpoint_every`` and ``on_iteration``
    apply to the Spark loop only: the driver kernel keeps no iteration state
    to lose and always runs to its exact fixpoint, so it never raises for
    ``max_iter``.

    Durability: ``localCheckpoint`` (the default) cuts lineage but stores blocks on
    executors — fine in local mode, but an executor loss at hour N of a 100 TB run
    kills the job. With ``checkpoint_dir`` set, every ``checkpoint_every``-th
    iteration's labels are written to reliable storage (ping-pong A/B parquet +
    atomically-replaced state file) and a rerun with the same dir RESUMES from the
    last durable iteration instead of restarting. The dir must belong to this edge
    set (the pipeline's config-fingerprinted workdir guarantees that —
    pipeline.py:91-106); pass a fresh dir for a different graph.

    ``on_iteration(it)`` is called at each iteration start (progress/metrics hook;
    the resume test injects faults through it)."""
    import os

    spark = edges.sparkSession
    pairs = reusable(edges.select("src", "dst"))
    arcs = small_arrow(pairs, KERNEL_ROWS)
    if arcs is not None:
        v, component = _components_arrow(arcs["src"], arcs["dst"])
        return id_frame(spark, edges.schema["src"].dataType,
                        v=v, component=component)
    sym = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])
    # keyed on the PER-ITERATION join key (sym.dst == labels.v): the edge side
    # is laid out once here for the loop instead of re-shuffled by dst every
    # iteration. Bare repartition on purpose: AQE sizes it (≥ default parallelism on big graphs, collapsed
    # for the vocabulary-bounded ones) — graph._key_repartition's rationale.
    sym = sym.repartition("dst").localCheckpoint()

    start_it = 0
    labels = None
    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        state = _read_cc_state(checkpoint_dir)
        if state:
            labels = spark.read.parquet(state["path"]).select("v", "component")
            start_it = state["iteration"] + 1
    if labels is None:
        labels = (
            sym.select(F.col("src").alias("v"))
            .distinct()
            .withColumn("component", F.col("v"))
            .localCheckpoint()
        )

    def propagate(labels):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.v)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        return labels.join(neighbor_min, labels.v == neighbor_min.src, "left").select(
            "v",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
            F.col("component").alias("old_component"),
        )

    def step(labels, it):
        if on_iteration is not None:
            on_iteration(it)
        return propagate(labels)

    def materialize(new_labels, it):
        if checkpoint_dir and it % checkpoint_every == checkpoint_every - 1:
            # ping-pong so the overwrite never clobbers files the live frame reads
            slot = os.path.join(checkpoint_dir, f"labels_{(it // checkpoint_every) % 2}")
            new_labels.write.mode("overwrite").parquet(slot)
            _write_cc_state(checkpoint_dir, {"iteration": it, "path": slot})
            new_labels = spark.read.parquet(slot)
        else:
            new_labels = new_labels.localCheckpoint()
        return new_labels.select("v", "component")

    changed = F.sum(F.when(F.col("component") != F.col("old_component"), 1).otherwise(0))
    run = fixpoint(labels, step, [changed], max_iter, materialize=materialize,
                   start=start_it, name="cc")
    labels, converged = run.state, run.converged
    if not run.history:
        # no round ran — e.g. resume from a checkpoint written at max_iter-1
        # right before the original run raised: verify the restored labels
        # instead of trusting them
        converged = observed(propagate(labels), [changed])[1] == (0,)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} iterations — "
            "component labels would be silently wrong; raise max_iter"
        )
    return labels


def canonical_map(links: DataFrame, max_iter: int = 25,
                  checkpoint_dir: str | None = None) -> DataFrame:
    """→ (mention_norm, mention_type, n_mentions, entity_id, canonical_id).

    ``links`` is materialized once, by the first job that reads it (a lazy
    localCheckpoint, so no job of its own): it is consumed three times (vertices,
    edges, final join) and is itself the head of the whole docs→triples→mentions
    plan — without the cut, Spark re-executes that full plan per consumer
    (measured 172 s → 9 s at sf0.1)."""
    links = links.localCheckpoint(eager=False)
    m = _mention_vertices(links)
    edges = build_edges(links)
    comp = connected_components(edges, max_iter=max_iter, checkpoint_dir=checkpoint_dir)
    return (
        m.join(comp, m.v == comp.v, "left")
        .select(
            "mention_norm", "mention_type", "n_mentions", "entity_id",
            F.coalesce(F.col("component"), m.v).alias("canonical_id"),
        )
    )
