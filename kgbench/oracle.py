"""Expected outputs of one workload and seed, computed without Spark.

The pipeline's single-node mirrors (``lingvo_spark_kg.golden``: links,
canonical map and edges as plain Python loops) run over triples extracted
here with the same per-sentence functions the Spark operators call. From the
resulting node and edge rows come the order-independent table hashes checked
after every build and ingest, and the row counts of every query and
analytics operation run against the ingested graph.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pyarrow as pa

from lingvo_spark_kg import golden
from lingvo_spark_kg.fixtures.corpus import gazetteer_from_aliases, make_aliases
from lingvo_spark_kg.model.lexicon import LexiconNer, tag_sentence
from lingvo_spark_kg.model.triples import extract_triples
from lingvo_spark_kg.tokenizer import run_simple_sents_allocate

# edge columns compared (n_docs is an HLL estimate in sketch mode; bucket is
# layout) and node columns compared (bucket is layout)
EDGE_COLS = ("src_id", "pred", "dst_id", "n_occurrences", "avg_confidence",
             "example_doc_id")
NODE_COLS = ("canonical_id", "label", "node_type", "n_mentions", "n_surfaces",
             "entity_id")
COMPOSED_PRED = "kgbench_composed"


def table_hash(rows) -> str:
    """Order-independent digest of a row multiset."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def triples_rows(docs: pa.Table, ner: LexiconNer, memo: dict) -> list[tuple]:
    """Mirror of the pipeline's triples stage in golden._triples_rows' row
    layout; ``memo`` maps a text to its per-sentence triples."""
    rows: list[tuple] = []
    for doc_id, spans in zip(docs.column("doc_id").to_pylist(),
                             docs.column("spans").to_pylist()):
        for s in spans:
            if s["kind"] != "text" or s["text"] is None:
                continue
            per_text = memo.get(s["text"])
            if per_text is None:
                per_text = []
                for sent_idx, (_sent, words) in enumerate(
                        run_simple_sents_allocate(s["text"], True)):
                    pos, nert = tag_sentence(words, ner)
                    found = extract_triples(words, pos, nert)
                    if found:
                        per_text.append((sent_idx, found))
                memo[s["text"]] = per_text
            for sent_idx, found in per_text:
                for t in found:
                    rows.append((doc_id, s["offset"], sent_idx, t.subj, t.pred,
                                 t.obj, t.subj_type, t.obj_type, t.subj_norm,
                                 t.obj_norm, t.confidence))
    return rows


def _nodes_rows(canonical_rows: list[tuple]) -> list[tuple]:
    """Mirror of graph.build_nodes (minus the bucket layout column)."""
    groups: dict[str, list] = defaultdict(list)
    for norm, mtype, n, eid, cid in canonical_rows:
        groups[cid].append((n, norm, mtype, eid))
    out = []
    for cid, members in groups.items():
        _n, label, ntype = max((n, norm, mtype) for n, norm, mtype, _ in members)
        eids = [e for *_, e in members if e is not None]
        out.append((cid, label, ntype, sum(m[0] for m in members), len(members),
                    min(eids) if eids else None))
    return out


def graph_rows(triples: list[tuple]) -> dict[str, list[tuple]]:
    links = golden._links_rows(triples)
    canon = golden._canonical_rows(links)
    edges = [(s, p, d, n, avg, ex)
             for s, p, d, n, avg, _ndocs, ex in golden._edges_rows(triples, canon)]
    return {"links": links, "canonical_map": canon, "edges": edges,
            "nodes": _nodes_rows(canon)}


def _media_spans(docs: pa.Table) -> int:
    return sum(s["kind"] != "text" for spans in docs.column("spans").to_pylist()
               for s in spans)


def expected(docs: pa.Table, delta: pa.Table, plan: dict | None,
             bfs_hops: int) -> dict:
    """Expected counts and table hashes after the build over ``docs`` and the
    ingest of ``delta``, and every operation's row count on each of the two
    graph generations."""
    # the gazetteer of KgPipeline's default alias seed
    ner, memo = LexiconNer(gazetteer_from_aliases(make_aliases(seed=42))), {}
    base_triples = triples_rows(docs, ner, memo)
    delta_triples = triples_rows(delta, ner, memo)
    gens = [graph_rows(base_triples), graph_rows(base_triples + delta_triples)]
    base, full = gens
    return {
        "build": {"counts": {"docs": docs.num_rows,
                             "media_spans": _media_spans(docs),
                             "triples_raw": len(base_triples),
                             **{k: len(v) for k, v in base.items()}},
                  "hashes": {k: table_hash(base[k]) for k in ("edges", "nodes")}},
        "ingest": {"counts": {"delta_docs": delta.num_rows,
                              "delta_triples": len(delta_triples),
                              "nodes": len(full["nodes"]),
                              "edges": len(full["edges"])},
                   "hashes": {k: table_hash(full[k]) for k in ("edges", "nodes")}},
        "op_rows": [expected_counts(g["edges"], plan, bfs_hops) if plan else {}
                    for g in gens],
    }


# levels of the p1+ path query's frontier loop, the same on every seed: the
# hub's own depth varies from 3 to 5 between seeds, and each level is a few
# Spark jobs
PATH_DEPTH = 4


def _depth(adj: dict, start) -> int:
    """Levels of a frontier search from ``start``'s successors until no new
    node is reached."""
    seen = frontier = set(adj.get(start, ()))
    depth = 0
    while frontier:
        frontier = {v for u in frontier for v in adj.get(u, ()) if v not in seen}
        seen = seen | frontier
        depth += 1
    return depth


def query_plan(edges: list[tuple]) -> dict:
    """Constants for the query set, read off the graph: the top hub (largest
    out-degree), the two most frequent predicates, and the start of the p1+
    path: the node of largest p1 out-degree whose search is PATH_DEPTH
    levels deep (the hub if none is)."""
    out_deg = Counter(e[0] for e in edges)
    preds = Counter(e[1] for e in edges)
    hub = min(out_deg, key=lambda v: (-out_deg[v], v))
    top = sorted(preds, key=lambda p: (-preds[p], p))
    adj = defaultdict(set)
    for e in edges:
        if e[1] == top[0]:
            adj[e[0]].add(e[2])
    ranked = sorted(adj, key=lambda v: (-len(adj[v]), v))
    path_start = next((v for v in ranked if _depth(adj, v) == PATH_DEPTH), hub)
    return {"hub": hub, "p1": top[0], "p2": top[1 % len(top)],
            "path_start": path_start}


def _reach(adj: dict, start, max_hops: int | None = None,
           include_start: bool = True) -> set:
    seen = {start} if include_start else set()
    frontier, hops = {start}, 0
    while frontier and (max_hops is None or hops < max_hops):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    nxt.add(v)
        frontier, hops = nxt, hops + 1
    return seen


def expected_counts(edges: list[tuple], plan: dict, bfs_hops: int) -> dict:
    """Row count of each query and analytics operation over ``edges``."""
    hub, p1, p2 = plan["hub"], plan["p1"], plan["p2"]
    triples = {(e[0], e[1], e[2]) for e in edges}
    nodes = {e[0] for e in triples} | {e[2] for e in triples}
    in_p1 = Counter()
    fwd_p1, fwd_p2, undirected = defaultdict(set), defaultdict(set), defaultdict(set)
    for s, p, d in triples:
        undirected[s].add(d)
        undirected[d].add(s)
        if p == p1:
            in_p1[d] += 1
            fwd_p1[s].add(d)
        if p == p2:
            fwd_p2[s].add(d)
    composed = {(a, c) for a, b_set in fwd_p1.items() for b in b_set
                for c in fwd_p2.get(b, ())}
    plus = set()
    for v in fwd_p1.get(plan["path_start"], ()):
        plus |= _reach(fwd_p1, v)
    return {
        "bgp_2hop": sum(n * len(fwd_p2.get(b, ())) for b, n in in_p1.items()),
        "sparql_groupby": min(10, len(fwd_p2)),
        "hub_star": sum(1 for s, _p, _d in triples if s == hub),
        "path_plus": len(plus),
        "pagerank": len(nodes),
        "label_propagation": len(nodes),
        "bfs_distances": len(_reach(undirected, hub, bfs_hops)),
        "betweenness": len(nodes),
        "components": len(nodes),
        "materialize_rules": len(composed),
    }
