"""End-to-end KG pipeline with per-stage checkpoints and resume.

Stage DAG (each stage writes a parquet table under ``workdir`` — the local stand-in for
the per-stage Iceberg checkpoint tables of the north-star spec; a completed stage is
detected by its ``_SUCCESS`` marker and skipped on resume):

    docs → sentences → tagged → triples_raw → links → canonical_map → nodes/edges + metrics

Shuffle budget (SURVEY.md §4.2): docs→triples_raw is entirely narrow (mapInPandas
chain); the only shuffles are the mention dedup groupBy, the canonicalization
iterations, and the final bucketed writes. The alias dictionary and link table ride as
broadcasts.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fixtures.corpus import gazetteer_from_aliases, make_aliases
from .operators import canonicalize, graph, linking, smallgraph
from .operators.docsgen import generate_docs
from .operators.schemas import ALIASES_SCHEMA
from .operators.tag import tag_sentences_lexicon
from .operators.tokenize import media_spans, tokenize_docs
from .operators.triples import docs_to_triples_fused, extract_triples_df
from .operators.writer import ParquetTableWriter


@dataclass
class KgPipeline:
    spark: SparkSession
    workdir: str
    n_docs: int = 10_000
    seed: int = 42
    n_buckets: int = 32
    fused: bool = True
    tagger: str = "lexicon"  # or "dnn": BiLSTM POS+NER models drive the staged path
    # (north_star: "the DNN tagger ... over the text spans"; forces fused=False)
    dnn_models: tuple | None = None  # (pos_model, ner_model) tagger models; default =
    # the TRAINED demo pair (model/demo.py — reproduces the lexicon regimen, so the
    # graph stages carry real volume; the pinned random pair would emit zero triples).
    # Load real production models via sources.s2s.load_tagger
    dnn_backend: str = "numpy"  # or "onnx": export via model/onnx_export, broadcast the
    # ONNX bundle, run one session per executor (numpy_session_factory here;
    # onnxruntime on a production image) — the north-star deployment shape executed
    dnn_dedup_sentences: bool = True  # corpus-global duplicate-sentence dedup around
    # the DNN decode (tag_sentences_bilstm_dedup) — result-identical (deterministic,
    # batch-invariant decode), decode cost scales with DISTINCT sentences
    link_strategy: str = "broadcast"  # or "salted" when the alias dim exceeds broadcast budget
    link_fuzzy: bool = False  # second-pass stem-block linking for inflected mentions
    durable_cc: bool = False  # CC iteration state to reliable storage (cluster runs);
    # local-mode default stays localCheckpoint — see canonicalize.connected_components
    docs_df: DataFrame | None = None  # override the generated corpus with a real table
    docs_fingerprint: str | None = None  # identifier of the EXTERNAL corpus for the
    # resume guard (snapshot id / path / content digest). The schema is always
    # fingerprinted; the content identity of a DataFrame can't be, so pass this when
    # resuming over workdirs built from different external corpora must be caught.
    edge_doc_sketch: bool = False  # carry a Datasketches HLL doc sketch per edge row
    # (build_edges_table(doc_sketch=True)) — REQUIRED for ingest_delta: countDistinct
    # n_docs is not mergeable once a delta batch or cluster merge re-keys rows
    writer: object | None = None  # TableWriter; default ParquetTableWriter(workdir) —
    # pass IcebergTableWriter(spark, catalog) on a lake (operators/writer.py)
    timings: dict[str, float] = field(default_factory=dict)

    def path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _writer(self):
        if self.writer is None:
            self.writer = ParquetTableWriter(self.workdir)
        return self.writer

    def _read(self, stage: str) -> DataFrame:
        return self._writer().read(self.spark, stage)

    def _run_stage(self, stage: str, build, resume: bool,
                   bucket_col: str | None = None) -> DataFrame:
        w = self._writer()
        if resume and w.done(self.spark, stage):
            return w.read(self.spark, stage)
        t0 = time.time()
        w.write(build(), stage, bucket_col=bucket_col, n_buckets=self.n_buckets)
        self.timings[stage] = round(time.time() - t0, 3)
        return w.read(self.spark, stage)

    # --- broadcast side data (alias rows computed once per pipeline object) ---
    def _alias_rows(self) -> list:
        rows = getattr(self, "_alias_rows_cache", None)
        if rows is None:
            rows = make_aliases(seed=self.seed)
            self._alias_rows_cache = rows
        return rows

    def aliases_df(self) -> DataFrame:
        import pandas as pd

        # pandas → Arrow path is ~5× faster than row-by-row list conversion
        return self.spark.createDataFrame(pd.DataFrame(self._alias_rows()),
                                          schema=ALIASES_SCHEMA)

    def gazetteer_bc(self):
        """One broadcast per pipeline object, built LAZILY at the first consuming
        stage — a fully-resumed run (and the dnn path, whose tagged stage never
        reads it) skips the dictionary build + broadcast entirely."""
        bc = getattr(self, "_gaz_bc_cache", None)
        if bc is None:
            bc = self.spark.sparkContext.broadcast(
                gazetteer_from_aliases(self._alias_rows()))
            self._gaz_bc_cache = bc
        return bc

    # defaults for fingerprint keys added after a workdir was built: a missing key in
    # an old config.json means "built with the default", so resume stays compatible
    # dnn_dedup legacy default is True even though old workdirs ran WITHOUT dedup:
    # the dedup is result-identical (pinned in tests), so trusting a pre-upgrade
    # tagged stage is correct — mapping the missing key to False would needlessly
    # invalidate every pre-upgrade workdir (including pure-lexicon ones)
    _FP_DEFAULTS = {"tagger": "lexicon", "dnn_backend": "numpy",
                    "dnn_models": "pinned", "dnn_dedup": True,
                    "edge_sketch": False}

    def _config_fingerprint(self) -> dict:
        if self.dnn_models is None:
            # the default demo pair is itself versioned — a retrained artifact must
            # invalidate resumed 'tagged' stages exactly like different weights
            from .model.demo import DEMO_VERSION

            models_fp = f"demo-v{DEMO_VERSION}"
        else:
            import hashlib

            # digest of the actual weights: resuming a 'tagged' stage built with
            # DIFFERENT models must fail the guard, not silently reuse it
            h = hashlib.sha1()
            for m in self.dnn_models:
                h.update(m.to_bytes())
            models_fp = h.hexdigest()[:16]
        if self.docs_df is None:
            docs_fp = False
        else:
            # content identity of a DataFrame is not derivable without an action, so
            # the guard uses the schema plus the caller-supplied docs_fingerprint;
            # without one, two different external corpora with the same schema are
            # indistinguishable to resume (documented at the field)
            docs_fp = [self.docs_df.schema.json(), self.docs_fingerprint]
        return {"n_docs": self.n_docs, "seed": self.seed, "n_buckets": self.n_buckets,
                "fused": self.fused, "tagger": self.tagger,
                "dnn_backend": self.dnn_backend, "dnn_models": models_fp,
                "dnn_dedup": self.dnn_dedup_sentences,
                "edge_sketch": self.edge_doc_sketch,
                "link_strategy": self.link_strategy,
                "link_fuzzy": self.link_fuzzy, "external_docs": docs_fp}

    def _dnn_tagged(self, sentences: DataFrame) -> DataFrame:
        """The DNN regimen inside the pipeline: broadcast the two tagger models
        (NumPy bytes, or real exported ONNX bundles when dnn_backend='onnx') and run
        tag_sentences_bilstm — the north-star shape 'DNN tagger (BiLSTM ... ONNX-
        exported weights broadcast to executors) over the text spans'."""
        from .model.backend import onnx_backend
        from .model.demo import demo_tagger_models
        from .operators.tag import tag_sentences_bilstm, tag_sentences_bilstm_dedup

        tag_op = (tag_sentences_bilstm_dedup if self.dnn_dedup_sentences
                  else tag_sentences_bilstm)
        pos_m, ner_m = self.dnn_models or demo_tagger_models()
        sc = self.spark.sparkContext
        if self.dnn_backend == "onnx":
            from .model.onnx_export import to_onnx_bundle
            from .model.onnx_numpy import numpy_session_factory

            pos_bc = sc.broadcast(to_onnx_bundle(pos_m))
            ner_bc = sc.broadcast(to_onnx_bundle(ner_m))
            loader = onnx_backend(session_factory=numpy_session_factory)
            return tag_op(sentences, pos_bc, ner_bc, backend_loader=loader)
        return tag_op(sentences, sc.broadcast(pos_m.to_bytes()),
                      sc.broadcast(ner_m.to_bytes()))

    # every stage _run_stage can write — the invalidation set for a config change
    STAGES = ("docs", "media_spans", "sentences", "tagged", "triples_raw", "links",
              "canonical_map", "linked_triples", "nodes", "edges", "metrics")

    def _check_fingerprint(self, resume: bool) -> None:
        """Resume keys on _SUCCESS markers; guard against silently reusing stages
        built with a DIFFERENT config over the same workdir. When a resume=False run
        CHANGES the config, every existing stage marker is invalidated FIRST: the new
        config.json lands before the rebuild starts, so a crash partway through must
        not leave old-config stages that a later resume=True would trust."""
        fp_path = os.path.join(self.workdir, "config.json")
        fp = self._config_fingerprint()
        if os.path.exists(fp_path):
            with open(fp_path) as f:
                old = json.load(f)
            old = {**self._FP_DEFAULTS, **old}  # pre-upgrade workdirs lack new keys
            if old != fp:
                if resume:
                    raise ValueError(
                        f"workdir {self.workdir} holds stages built with a different "
                        f"config ({old} != {fp}); run with resume=False or a fresh "
                        "workdir"
                    )
                w = self._writer()
                for stage in self.STAGES:
                    w.invalidate(self.spark, stage)
        log = self._ingest_log()
        if log["batches"]:
            # ingested workdirs are maintained through ingest_delta / table(); a
            # plain run() would trust base-stage markers that no longer reflect the
            # graph generation (and resume=False would rebuild base stages while
            # stale batch tables still union into table() reads)
            if resume:
                raise ValueError(
                    f"workdir {self.workdir} has ingested delta batches "
                    f"{log['batches']}; keep maintaining it with ingest_delta, or "
                    "rebuild from scratch with resume=False")
            self._clear_ingest_state(log)
        os.makedirs(self.workdir, exist_ok=True)
        with open(fp_path, "w") as f:
            json.dump(fp, f)

    # --- incremental ingest (operators/incremental.py over the stage tables) ---
    # corpus-volume stages accrete per-batch tables (stage__b1, stage__b2, ...);
    # graph-layer stages are replaced wholesale per committed generation
    # (stage__g1, ...). The commit point is ONE atomic replace of ingest_log.json —
    # the parquet stand-in for an Iceberg snapshot commit: a crash anywhere before
    # it leaves the previous generation fully readable, and re-running the same
    # batch id simply overwrites the uncommitted tables.
    _GRAPH_STAGES = ("links", "canonical_map", "nodes", "edges", "metrics")
    _BATCH_STAGES = ("docs", "media_spans", "sentences", "tagged", "triples_raw")

    def _ingest_log_path(self) -> str:
        return os.path.join(self.workdir, "ingest_log.json")

    def _ingest_log(self) -> dict:
        p = self._ingest_log_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"batches": [], "graph_gen": 0}

    def _clear_ingest_state(self, log: dict) -> None:
        w = self._writer()
        for b in log["batches"]:
            for stage in self._BATCH_STAGES:
                w.invalidate(self.spark, f"{stage}__b{b}")
        for g in range(1, log["graph_gen"] + 1):
            for stage in self._GRAPH_STAGES:
                w.invalidate(self.spark, f"{stage}__g{g}")
        if os.path.exists(self._ingest_log_path()):
            os.remove(self._ingest_log_path())

    def table(self, stage: str, generation: int | None = None) -> DataFrame:
        """The LOGICAL stage table across all committed ingests: graph-layer stages
        resolve to the latest committed generation; corpus-volume stages union the
        base table with every committed batch table. ``linked_triples``/``sentences``
        /``tagged`` batch tables exist only for configs whose run() writes them.

        ``generation=g`` time-travels a GRAPH stage to committed generation ``g``
        (0 = the base run() output, k = the state after the k-th delta ingest) —
        the Iceberg ``VERSION AS OF`` analog; raises if ``g`` was expired or never
        committed (``generations()`` lists what is readable).

        A current-generation ``edges`` read returns a session-resident copy
        when the table is small (:meth:`_resident_edges`); every other read is
        the writer's."""
        w = self._writer()
        log = self._ingest_log()
        current = generation is None
        if not current:
            if stage not in self._GRAPH_STAGES:
                raise ValueError(
                    f"generation reads apply to graph stages {self._GRAPH_STAGES},"
                    f" not {stage!r} (corpus stages are append-only; slice by batch)")
            if generation not in self.generations():
                raise ValueError(
                    f"generation {generation} is not readable (committed: "
                    f"{self.generations()}) — expired or never committed")
        elif stage in self._GRAPH_STAGES:
            generation = log["graph_gen"]
        else:
            df = w.read(self.spark, stage)
            for b in log["batches"]:
                t = f"{stage}__b{b}"
                if w.done(self.spark, t):
                    df = df.unionByName(w.read(self.spark, t))
            return df
        name = self._resolve_alias(
            log, stage if generation == 0 else f"{stage}__g{generation}")
        if stage == "edges" and current:
            return self._resident_edges(name)
        return w.read(self.spark, name)

    def _resident_edges(self, name: str) -> DataFrame:
        """The physical edges table ``name`` as a one-partition LocalRelation
        (``smallgraph.local_frame``) when its parquet read holds at most
        ``smallgraph.ONE_PARTITION_ROWS`` rows within the broadcast budget's
        bytes, else that read. Lookups are planned and run against the copy:
        an aggregate over it needs no exchange, and a repeat call lists no
        files. Deciding runs one job, ``smallgraph.small_arrow``'s collect of
        at most the cap plus one row, which is the copy when it is kept. The
        result either way is memoized for the last table read, keyed by
        ``name``, the writer's ``version`` token and the budget, so a rewrite
        by any writer — a rebuild by another pipeline object included — is
        read afresh, and so is every read once the budget changes; a writer
        without a token (None) gets the plain read every time."""
        w = self._writer()
        # the token is taken BEFORE the read: a rewrite racing the collect then
        # leaves a memo whose key is already stale, never a stale copy under a
        # fresh key
        key = (name, w.version(self.spark, name),
               smallgraph.broadcast_budget(self.spark))
        memo = getattr(self, "_edges_memo", None)
        if memo is not None and memo[0] == key:
            return memo[1]
        self._edges_memo = None
        df = w.read(self.spark, name)
        if key[1] is None:
            return df
        head = smallgraph.small_arrow(df, smallgraph.ONE_PARTITION_ROWS)
        if head is not None:
            df = smallgraph.local_frame(self.spark, head, df.schema)
        self._edges_memo = (key, df)
        return df

    @staticmethod
    def _resolve_alias(log: dict, name: str) -> str:
        """Snapshot-reuse indirection: a generation table that is unchanged
        from its predecessor is an ALIAS in the ingest log (the Iceberg
        manifest-reuse analog — commit points at the old files, zero data
        copy). Aliases are stored pre-resolved (always point at a physical
        table), so one hop suffices."""
        return log.get("aliases", {}).get(name, name)

    def generations(self) -> list[int]:
        """Readable graph generations, oldest first: 0 (the base run) plus every
        committed delta generation not yet reclaimed by expire_generations()."""
        w = self._writer()
        log = self._ingest_log()
        out = [0] if w.done(self.spark, "edges") else []
        out += [g for g in range(1, log["graph_gen"] + 1)
                if w.done(self.spark, f"edges__g{g}")]
        return out

    def expire_generations(self, keep: int = 1) -> list[int]:
        """The retention job (Iceberg ``expire_snapshots``): delete all superseded
        delta generations except the newest ``keep``, returning what was expired.
        The CURRENT generation is never expired, and neither is generation 0 —
        its unsuffixed tables double as run()'s resume state (they are
        marker-guarded by the config fingerprint, not by the ingest log)."""
        w = self._writer()
        log = self._ingest_log()
        aliases = dict(log.get("aliases", {}))
        all_gens = self.generations()
        deltas = [g for g in all_gens if g > 0]
        expired = deltas[:-max(1, keep)]      # newest keep (≥ the current) stay
        # snapshot reuse makes expiry reference-counted: a physical table is
        # reclaimable only when NO surviving generation reads it (directly or
        # through an alias) — the Iceberg remove-orphan-files rule. Gen 0 is
        # always a survivor, so base tables are always referenced.
        referenced = set()
        for g in all_gens:
            if g in expired:
                continue
            for stage in self._GRAPH_STAGES:
                name = stage if g == 0 else f"{stage}__g{g}"
                referenced.add(aliases.get(name, name))
        to_drop: list[str] = []
        for g in expired:
            # edges FIRST: generations() keys on the edges marker, so a crash
            # mid-expire leaves the generation UNLISTED (time-travel reads fail
            # fast) rather than listed-but-partially-deleted; any orphaned
            # sibling dirs are bounded like crashed-ingest orphans.
            # Storage reclamation goes through the writer seam — an injected
            # writer owns its own layout (w.drop), never a hardcoded path.
            for stage in ("edges",) + tuple(
                    s for s in self._GRAPH_STAGES if s != "edges"):
                name = f"{stage}__g{g}"
                target = aliases.pop(name, name)
                if target not in referenced and target not in to_drop:
                    to_drop.append(target)
        for name in to_drop:
            w.drop(self.spark, name)
        if aliases != log.get("aliases", {}):
            # persist the pruned alias map (same atomic-replace commit shape)
            new_log = {**log, "aliases": aliases}
            tmp = f"{self._ingest_log_path()}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(new_log, f)
            os.replace(tmp, self._ingest_log_path())
        return expired

    def diff_generations(self, gen_old: int, gen_new: int | None = None,
                         changes_only: bool = True) -> DataFrame:
        """The post-ingest audit read: what did the graph gain / lose / change
        between two committed generations (default: vs the current one) —
        operators/graph.edge_diff over the two time-travel edge reads, filtered
        to real changes unless ``changes_only=False``."""
        from .operators.graph import edge_diff

        if gen_new is None:
            gen_new = self._ingest_log()["graph_gen"]
        out = edge_diff(self.table("edges", generation=gen_old),
                        self.table("edges", generation=gen_new))
        return out.where(F.col("status") != "unchanged") if changes_only else out

    def _batch_stage(self, name: str, build) -> DataFrame:
        w = self._writer()
        t0 = time.time()
        w.write(build(), name)
        self.timings[name] = round(time.time() - t0, 3)
        return w.read(self.spark, name)

    def ingest_delta(self, delta_docs: DataFrame, batch_id: int | None = None,
                     if_committed: str = "error") -> dict[str, int]:
        """Apply a delta batch of documents to a completed workdir with
        delta + vocabulary work — never a base-corpus re-scan (the continuous-ingest
        mode of a web-scale KG; cost model in docs/SCALE.md "Incremental
        maintenance"). The delta rides the SAME extraction regimen as run()
        (fused lexicon / staged lexicon / DNN with dedup decode), then
        operators/incremental.apply_delta merges it into the graph layer.

        Durability contract: per-batch corpus tables and the next graph generation
        are written first; the single atomic ``ingest_log.json`` replace commits
        them (Iceberg analog: one snapshot commit). A crash before the commit
        leaves the previous state fully readable and the retry (same ``batch_id``)
        overwrites the orphaned tables; a re-ingest of an already-committed batch
        id raises. Batch identity — "is this the same delta I already applied?" —
        is the caller's offset-tracking responsibility, as with any append log.
        Superseded generations STAY READABLE (``table(stage, generation=g)`` —
        the Iceberg time-travel analog); storage reclamation is the explicit
        retention call :meth:`expire_generations` (Iceberg:
        ``expire_snapshots``), never a side effect of the commit.

        Equality contract: after N ingests, every ``table(stage)`` read is
        bit-identical to a fresh ``run()`` over the concatenated corpus — for
        ``edges`` in sketch mode on every column including the HLL ``n_docs``
        estimate (pinned in tests/test_pipeline_ingest.py). ``delta_docs`` must
        match the docs-stage schema. ``linked_triples`` stays a base-run
        intermediate (consumed only by the batch edge build; the merge path
        re-keys the edge table directly and never reads it)."""
        from .operators import incremental

        spark = self.spark
        if self.tagger == "dnn" and self.fused:
            self.fused = False  # same normalization as run(): the fused operator
            # is lexicon-only, and the stored fingerprint records the effective value
        if not self.edge_doc_sketch:
            raise ValueError(
                "ingest_delta needs edge_doc_sketch=True (a countDistinct n_docs "
                "edge table is not mergeable); rebuild the workdir with the "
                "option on")
        w = self._writer()
        for stage in ("docs", "triples_raw", "links", "canonical_map", "edges"):
            if not w.done(spark, stage):
                raise ValueError(
                    f"ingest_delta needs a completed run() in {self.workdir} "
                    f"(stage {stage!r} is not done)")
        self._check_ingest_fingerprint()
        log = self._ingest_log()
        b = batch_id if batch_id is not None else (
            max(log["batches"], default=0) + 1)
        if b in log["batches"]:
            # if_committed='skip' is the at-least-once replay contract for
            # streaming (operators/streaming.stream_docs_to_kg): a replayed
            # micro-batch carries the SAME batch id and — by the file-source
            # checkpoint — the SAME documents, so dropping it is exactly-once.
            # The manual API keeps raising: a human reusing an id is a bug.
            if if_committed == "skip":
                return {}
            raise ValueError(f"batch {b} is already committed in {self.workdir}")
        g_new = log["graph_gen"] + 1
        sfx = f"__b{b}"

        docs = self._batch_stage(f"docs{sfx}", lambda: delta_docs)
        self._batch_stage(f"media_spans{sfx}", lambda: media_spans(docs))
        if self.fused:
            triples = self._batch_stage(
                f"triples_raw{sfx}",
                lambda: docs_to_triples_fused(docs, self.gazetteer_bc()))
        else:
            sentences = self._batch_stage(f"sentences{sfx}",
                                          lambda: tokenize_docs(docs))
            tagged = self._batch_stage(
                f"tagged{sfx}",
                (lambda: self._dnn_tagged(sentences)) if self.tagger == "dnn"
                else (lambda: tag_sentences_lexicon(sentences,
                                                    self.gazetteer_bc())))
            triples = self._batch_stage(f"triples_raw{sfx}",
                                        lambda: extract_triples_df(tagged))

        link_fn = (linking.link_mentions_fuzzy if self.link_fuzzy else
                   (lambda m, a: linking.link_mentions(
                       m, a, strategy=self.link_strategy)))
        cc_dir = self.path("cc_checkpoints") if self.durable_cc else None
        t0 = time.time()
        out = incremental.apply_delta(
            self.table("links"), self.table("canonical_map"), self.table("edges"),
            triples, self.aliases_df(), link_fn=link_fn,
            n_buckets=self.n_buckets, cc_checkpoint_dir=cc_dir)
        w.write(out["links"], f"links__g{g_new}")
        w.write(out["canon"], f"canonical_map__g{g_new}")
        w.write(out["nodes"], f"nodes__g{g_new}", bucket_col="bucket",
                n_buckets=self.n_buckets)
        w.write(out["edges"], f"edges__g{g_new}", bucket_col="bucket",
                n_buckets=self.n_buckets)
        nodes_t = w.read(spark, f"nodes__g{g_new}")
        edges_t = w.read(spark, f"edges__g{g_new}")
        w.write(graph.partition_metrics(nodes_t, "nodes").unionByName(
            graph.partition_metrics(edges_t, "edges")), f"metrics__g{g_new}")
        self.timings[f"graph__g{g_new}"] = round(time.time() - t0, 3)

        # ---- the commit point: one atomic pointer replace ----
        new_log = {**log, "batches": sorted(log["batches"] + [b]),
                   "graph_gen": g_new}
        tmp = f"{self._ingest_log_path()}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(new_log, f)
        os.replace(tmp, self._ingest_log_path())
        # the superseded generation's markers stay: it remains readable via
        # table(stage, generation=g) until expire_generations() reclaims it —
        # the Iceberg snapshot model (commit moves the pointer, expire deletes)

        from functools import reduce

        counts_df = reduce(
            DataFrame.unionByName,
            [df.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(name).alias("stage"), "n")
             for name, df in {"delta_docs": docs, "delta_triples": triples,
                              "nodes": nodes_t, "edges": edges_t}.items()])
        counts = {r["stage"]: r["n"] for r in counts_df.collect()}
        with open(os.path.join(self.workdir, f"ingest_summary_b{b}.json"),
                  "w") as f:
            json.dump({"batch": b, "graph_gen": g_new, "counts": counts,
                       "timings": self.timings}, f, indent=2)
        return counts

    def _check_ingest_fingerprint(self) -> None:
        """ingest_delta must run under the SAME config that built the workdir —
        a different extraction/linking config would merge inconsistently keyed
        deltas into the graph."""
        fp_path = os.path.join(self.workdir, "config.json")
        if not os.path.exists(fp_path):
            raise ValueError(f"{self.workdir} has no config.json — run() first")
        with open(fp_path) as f:
            old = {**self._FP_DEFAULTS, **json.load(f)}
        fp = self._config_fingerprint()
        # n_docs describes the BASE generator corpus only; external-docs pipelines
        # feed deltas by DataFrame, so the content key is batch-scoped, not global
        drop = ("n_docs", "external_docs")
        if {k: v for k, v in old.items() if k not in drop} != \
                {k: v for k, v in fp.items() if k not in drop}:
            raise ValueError(
                f"ingest_delta config mismatch over {self.workdir}: {old} != {fp}")

    # --- stages ---
    def run(self, resume: bool = True) -> dict[str, int]:
        spark = self.spark
        if self.tagger not in ("lexicon", "dnn"):
            raise ValueError(f"tagger must be 'lexicon' or 'dnn', got {self.tagger!r}")
        if self.dnn_backend not in ("numpy", "onnx"):
            raise ValueError(
                f"dnn_backend must be 'numpy' or 'onnx', got {self.dnn_backend!r}")
        if self.tagger == "dnn" and self.fused:
            # the fused single-pass operator is lexicon-only; the DNN regimen runs
            # the staged path (its model batching wants whole Arrow batches anyway).
            # Normalized BEFORE the fingerprint so resume sees the effective config.
            self.fused = False
        self._check_fingerprint(resume)

        docs = self._run_stage(
            "docs",
            lambda: self.docs_df if self.docs_df is not None
            else generate_docs(spark, self.n_docs, self.seed),
            resume,
        )

        media = self._run_stage("media_spans", lambda: media_spans(docs), resume)

        if self.fused:
            triples = self._run_stage(
                "triples_raw",
                lambda: docs_to_triples_fused(docs, self.gazetteer_bc()), resume
            )
        else:
            sentences = self._run_stage("sentences", lambda: tokenize_docs(docs), resume)
            if self.tagger == "dnn":
                tagged = self._run_stage("tagged", lambda: self._dnn_tagged(sentences),
                                         resume)
            else:
                tagged = self._run_stage(
                    "tagged",
                    lambda: tag_sentences_lexicon(sentences, self.gazetteer_bc()),
                    resume
                )
            triples = self._run_stage("triples_raw", lambda: extract_triples_df(tagged), resume)

        def build_links():
            aliases = self.aliases_df()
            mentions = linking.mentions_from_triples(triples)
            if self.link_fuzzy:
                return linking.link_mentions_fuzzy(mentions, aliases)
            return linking.link_mentions(mentions, aliases, strategy=self.link_strategy)

        links = self._run_stage("links", build_links, resume)
        cc_dir = self.path("cc_checkpoints") if self.durable_cc else None
        canon = self._run_stage(
            "canonical_map",
            lambda: canonicalize.canonical_map(links, checkpoint_dir=cc_dir), resume
        )
        linked_triples = self._run_stage(
            "linked_triples", lambda: linking.link_triples(triples, links), resume
        )
        nodes = self._run_stage(
            "nodes", lambda: graph.build_nodes(canon, self.n_buckets), resume,
            bucket_col="bucket",
        )
        edges = self._run_stage(
            "edges",
            lambda: graph.build_edges_table(linked_triples, canon, self.n_buckets,
                                            doc_sketch=self.edge_doc_sketch),
            resume, bucket_col="bucket",
        )
        metrics = self._run_stage(
            "metrics",
            lambda: graph.partition_metrics(nodes, "nodes").unionByName(
                graph.partition_metrics(edges, "edges")
            ),
            resume,
        )

        # one job for the whole summary (a union of per-stage counts) instead of
        # 8 sequential .count() actions / driver round-trips
        from functools import reduce

        stage_frames = {
            "docs": docs, "media_spans": media, "triples_raw": triples,
            "links": links, "canonical_map": canon, "nodes": nodes,
            "edges": edges, "metrics": metrics,
        }
        counts_df = reduce(
            DataFrame.unionByName,
            [
                df.agg(F.count(F.lit(1)).alias("n")).select(
                    F.lit(name).alias("stage"), "n")
                for name, df in stage_frames.items()
            ],
        )
        counts = {r["stage"]: r["n"] for r in counts_df.collect()}
        with open(os.path.join(self.workdir, "run_summary.json"), "w") as f:
            json.dump({"counts": counts, "timings": self.timings}, f, indent=2)
        return counts

    def analytics(self, resume: bool = True, pagerank_iters: int = 20,
                  n_walks: int = 2, walk_len: int = 4, window: int = 2,
                  weighted_walks: bool = True, embedding_dim: int = 16,
                  embedding_epochs: int = 5, embedding_partitions: int = 8,
                  seed: int = 42,
                  betweenness_pivots: int = 16) -> dict[str, int]:
        """Post-run graph-analytics stages over the committed edges table, each a
        durable resumable stage table like run()'s (same writer/resume contract):

        - ``an_pagerank``  (node_id, rank)            — graph.pagerank
        - ``an_coreness``  (node_id, coreness)        — graph.coreness
        - ``an_triangles`` (node_id, n_triangles)     — graph.triangle_counts
        - ``an_paths``     (pred_1, pred_2, ...)      — graph.predicate_paths
        - ``an_walks``     (start_id, walk_idx, step, node_id) — random_walks
          (weight-proportional over n_occurrences when ``weighted_walks``)
        - ``an_pairs``     (center_id, context_id, n_pairs)    — skip_gram_pairs
        - ``an_embeddings`` (node_id, embedding)      — node2vec skip-gram NSG
        - ``an_linkpred``  (node_a, node_b, n_common, ..., is_edge)
          — neighbor_similarity (common-neighbor / Jaccard candidates)
        - ``an_components`` (node_id, component)      — graph.components
        - ``an_nfunc``     (hop, est_pairs)           — neighborhood_function
          (HyperANF HLL balls; the effective-diameter read)
        - ``an_communities`` (node_id, community)     — label_propagation
        - ``an_radius``    (node_id, distance)        — bfs_distances from the
          top-PageRank node (highest rank, min node_id on ties — chained off
          the WRITTEN an_pagerank table, so the seed is resume-stable): the
          "how far is everything from the graph's center" read
        - ``an_preds``     (pred, n_edges, n_src_nodes, ...) — predicate_stats
        - ``an_centrality`` (node_id, centrality)     — harmonic_centrality
          (HyperANF sketch stream; the closeness ranking)
        - ``an_betweenness`` (node_id, centrality)    — betweenness_centrality
          (sampled Brandes, ``betweenness_pivots`` seeded-hash pivots; the
          broker/bridge ranking — complements closeness, which cannot see
          who GATES the paths)

        Reads the LOGICAL edges table (latest committed generation), so analytics
        run after ``ingest_delta`` see the maintained graph; re-running after a
        new ingest requires ``resume=False`` (stage tables are point-in-time
        snapshots of the generation they were computed from — the staleness
        contract of any derived table). Walk/embedding stages chain off the
        WRITTEN tables, so a resumed call never retrains on different walks."""
        from .operators import node2vec
        from .operators.graph import (betweenness_centrality, bfs_distances,
                                      components, coreness,
                                      harmonic_centrality, label_propagation,
                                      neighbor_similarity,
                                      neighborhood_function, pagerank,
                                      predicate_paths, predicate_stats,
                                      random_walks, skip_gram_pairs,
                                      triangle_counts)

        edges = self.table("edges")
        pr = self._run_stage(
            "an_pagerank", lambda: pagerank(edges, n_iter=pagerank_iters), resume)
        core = self._run_stage("an_coreness", lambda: coreness(edges), resume)
        tri = self._run_stage("an_triangles", lambda: triangle_counts(edges),
                              resume)
        paths = self._run_stage("an_paths", lambda: predicate_paths(edges),
                                resume)
        walks = self._run_stage(
            "an_walks",
            lambda: random_walks(edges, n_walks=n_walks, walk_len=walk_len,
                                 seed=seed, weighted=weighted_walks), resume)
        pairs = self._run_stage(
            "an_pairs", lambda: skip_gram_pairs(walks, window=window), resume)
        emb = self._run_stage(
            "an_embeddings",
            lambda: node2vec.train_node_embeddings(
                pairs, dim=embedding_dim, epochs=embedding_epochs, seed=seed,
                n_partitions=embedding_partitions)[0],
            resume)
        linkpred = self._run_stage(
            "an_linkpred", lambda: neighbor_similarity(edges), resume)
        comp = self._run_stage(
            "an_components", lambda: components(edges), resume)
        nfunc = self._run_stage(
            "an_nfunc", lambda: neighborhood_function(edges), resume)
        comm = self._run_stage(
            "an_communities", lambda: label_propagation(edges), resume)

        def build_radius():
            hub = (pr.orderBy(F.desc("rank"), F.asc("node_id"))
                   .limit(1).collect())
            if not hub:   # empty graph: an empty stage table, like every an_*
                return (edges.select(F.col("src_id").alias("node_id"))
                        .withColumn("distance", F.lit(0)).limit(0))
            return bfs_distances(edges, [hub[0]["node_id"]])

        radius = self._run_stage("an_radius", build_radius, resume)
        preds = self._run_stage(
            "an_preds", lambda: predicate_stats(edges), resume)
        centr = self._run_stage(
            "an_centrality", lambda: harmonic_centrality(edges), resume)
        betw = self._run_stage(
            "an_betweenness",
            lambda: betweenness_centrality(edges,
                                           n_pivots=betweenness_pivots),
            resume)

        from functools import reduce

        frames = {"an_pagerank": pr, "an_coreness": core, "an_triangles": tri,
                  "an_paths": paths, "an_walks": walks, "an_pairs": pairs,
                  "an_embeddings": emb, "an_linkpred": linkpred,
                  "an_components": comp, "an_nfunc": nfunc,
                  "an_communities": comm, "an_radius": radius,
                  "an_preds": preds, "an_centrality": centr,
                  "an_betweenness": betw}
        counts_df = reduce(
            DataFrame.unionByName,
            [df.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(name).alias("stage"), "n") for name, df in frames.items()])
        return {r["stage"]: r["n"] for r in counts_df.collect()}

    def query(self, patterns: list, *, generation: int | None = None,
              **kw) -> DataFrame:
        """Run a basic graph pattern against the committed KG (the latest
        edges generation, or ``generation=g`` for an AS-OF query over a
        time-traveled snapshot — "what did we know before that ingest") —
        ``graph.match_pattern`` over ``table("edges")``, with
        the full algebra passed through: property paths (incl. negated
        property sets), OPTIONAL/UNION/MINUS groups, VALUES, BIND,
        EXISTS/NOT EXISTS, FILTER, subquery frames (``sub=``),
        selectivity-aware join ordering
        (``stats=True`` computes per-predicate counts once per query) and the
        solution modifiers ``select`` / ``order_by`` / ``limit`` /
        ``offset``::

            p.query([("?who", "возглавлять", "?org"),
                     ("?org", "located_in*", some_city_id)],
                    filter="who != org", stats=True,
                    order_by=["who"], limit=100)
        """
        from .operators.graph import match_pattern

        if generation is not None and (isinstance(generation, bool)
                                       or not isinstance(generation, int)):
            raise TypeError(
                f"generation must be an int committed generation number, got "
                f"{generation!r} — a stray positional argument? (query's "
                "options are keyword-only)")
        return match_pattern(self.table("edges", generation=generation),
                             patterns, **kw)

    def sparql(self, query: str, stats=None,
               generation: int | None = None) -> DataFrame:
        """Run a SPARQL query STRING against the committed KG —
        :func:`operators.sparql.sparql_query` over ``table("edges")``
        (``generation=g`` = the AS-OF form over a time-traveled snapshot):
        SELECT → solution frame, ASK → one-row boolean frame, CONSTRUCT →
        inferred edges, DESCRIBE → the induced star. Same lowering as
        :meth:`query`; the string form is parsed, never a second engine::

            p.sparql('''SELECT ?who (COUNT(*) AS ?n) WHERE {
                          ?who возглавлять ?org .
                        } GROUP BY ?who ORDER BY DESC(?n) LIMIT 10''')
        """
        from .operators.sparql import sparql_query

        return sparql_query(self.table("edges", generation=generation),
                            query, stats=stats)

    def sparql_update(self, update: str, stats=None) -> dict:
        """Apply ONE SPARQL 1.1 Update operation (INSERT DATA / DELETE DATA /
        DELETE WHERE / DELETE-INSERT-WHERE / LOAD / CLEAR —
        :func:`operators.sparql.sparql_update`) to the committed KG and
        commit the result as a NEW
        graph generation: the assertional-edit path (curation fixes, manual
        assertions, predicate migrations) — no document re-scan, ever.

        Generation contract, same as :meth:`ingest_delta`: the commit point
        is the one atomic ingest-log replace; superseded generations stay
        readable (``table(stage, generation=g)``) until
        :meth:`expire_generations`. ``links`` / ``canonical_map`` describe
        MENTION provenance, which an edge-level assertion does not change —
        they carry forward by SNAPSHOT REUSE: an alias entry in the ingest
        log pointing at the previous generation's physical table (the
        Iceberg manifest-reuse analog — zero data copied, and expiry is
        reference-counted so a shared table outlives the generations that
        alias it). ``nodes`` gains minimal stub rows for node ids the update
        introduces (``node_type='asserted'``, zero mention counts — no
        document ever mentioned them); ``metrics`` is recomputed over the
        new tables. Returns ``{"edges": n, "nodes": n, "graph_gen": g}``."""
        from .operators.sparql import sparql_update as _apply_update

        self._check_graph_edit_ready("sparql_update")
        new_edges = _apply_update(self.table("edges"), update, stats=stats)
        return self._commit_graph_edit(new_edges)

    def infer_rules(self, rules: list, max_rounds: int = 30) -> dict:
        """Close the inference loop: saturate the committed KG under a
        Datalog-style rule program (:func:`operators.graph.
        materialize_rules` — semi-naive forward chaining to fixpoint,
        mutually recursive rules supported) and commit the saturated edges
        as a NEW graph generation under the SAME contract as
        :meth:`sparql_update` (atomic pointer commit, time travel,
        links/canonical_map snapshot-reuse aliases, ``node_type='asserted'``
        stubs for rule-introduced node ids — inferred edges carry
        ``n_occurrences=1`` and NULL document provenance, because no
        document asserted them; ``diff_generations`` shows exactly what the
        rules added). Returns ``{"edges": n, "nodes": n, "graph_gen": g}``."""
        from .operators.graph import materialize_rules

        self._check_graph_edit_ready("infer_rules")
        edges_old = self.table("edges")
        inferred = materialize_rules(edges_old, rules,
                                     max_rounds=max_rounds,
                                     include_base=False)
        fill = [(F.lit(1) if c == "n_occurrences" else F.lit(None))
                .cast(t).alias(c)
                for c, t in edges_old.dtypes
                if c not in ("src_id", "pred", "dst_id")]
        new_edges = edges_old.unionByName(
            inferred.select("src_id", "pred", "dst_id", *fill)
            .select(*edges_old.columns))
        return self._commit_graph_edit(new_edges)

    def _check_graph_edit_ready(self, what: str) -> None:
        w = self._writer()
        for stage in ("edges", "nodes"):
            if not w.done(self.spark, stage):
                raise ValueError(
                    f"{what} needs a completed run() in "
                    f"{self.workdir} (stage {stage!r} is not done)")

    def _commit_graph_edit(self, new_edges: DataFrame) -> dict:
        """Commit an edge-level edit (update / inference) as generation
        g+1: rebucket, stub new node ids, recompute metrics, alias the
        mention-provenance stages, one atomic pointer replace."""
        spark, w = self.spark, self._writer()
        log = self._ingest_log()
        g_new = log["graph_gen"] + 1
        t0 = time.time()

        # re-derive the layout column: new rows carry NULL metadata, but
        # bucketing is structural (same hash as build_edges_table)
        new_edges = new_edges.withColumn(
            "bucket", F.pmod(F.hash("src_id"), F.lit(self.n_buckets)))

        nodes_old = self.table("nodes")
        ntypes = dict(nodes_old.dtypes)
        ids = (new_edges.select(F.col("src_id").alias("canonical_id"))
               .unionByName(new_edges.select(
                   F.col("dst_id").alias("canonical_id")))
               .distinct())
        stubs = (ids.join(nodes_old.select("canonical_id"),
                          "canonical_id", "left_anti")
                 .select(
                     "canonical_id",
                     F.col("canonical_id").cast(ntypes["label"])
                     .alias("label"),
                     F.lit("asserted").cast(ntypes["node_type"])
                     .alias("node_type"),
                     F.lit(0).cast(ntypes["n_mentions"]).alias("n_mentions"),
                     F.lit(0).cast(ntypes["n_surfaces"]).alias("n_surfaces"),
                     F.col("canonical_id").cast(ntypes["entity_id"])
                     .alias("entity_id"),
                     F.pmod(F.hash("canonical_id"), F.lit(self.n_buckets))
                     .cast(ntypes["bucket"]).alias("bucket"))
                 .select(*nodes_old.columns))
        new_nodes = nodes_old.unionByName(stubs)

        w.write(new_nodes, f"nodes__g{g_new}", bucket_col="bucket",
                n_buckets=self.n_buckets)
        w.write(new_edges, f"edges__g{g_new}", bucket_col="bucket",
                n_buckets=self.n_buckets)
        nodes_t = w.read(spark, f"nodes__g{g_new}")
        edges_t = w.read(spark, f"edges__g{g_new}")
        w.write(graph.partition_metrics(nodes_t, "nodes").unionByName(
            graph.partition_metrics(edges_t, "edges")), f"metrics__g{g_new}")
        self.timings[f"graph__g{g_new}"] = round(time.time() - t0, 3)

        aliases = dict(log.get("aliases", {}))
        for stage in ("links", "canonical_map"):
            cur = stage if log["graph_gen"] == 0 \
                else f"{stage}__g{log['graph_gen']}"
            # store pre-resolved: always point at the physical table
            aliases[f"{stage}__g{g_new}"] = aliases.get(cur, cur)
        # ---- the commit point: one atomic pointer replace ----
        new_log = {**log, "graph_gen": g_new, "aliases": aliases}
        tmp = f"{self._ingest_log_path()}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(new_log, f)
        os.replace(tmp, self._ingest_log_path())

        counts = {r["stage"]: r["n"] for r in
                  nodes_t.agg(F.count(F.lit(1)).alias("n"))
                  .select(F.lit("nodes").alias("stage"), "n")
                  .unionByName(
                      edges_t.agg(F.count(F.lit(1)).alias("n"))
                      .select(F.lit("edges").alias("stage"), "n"))
                  .collect()}
        counts["graph_gen"] = g_new
        return counts

    def export_ntriples(self, path: str, base: str | None = None,
                        generation: int | None = None) -> None:
        """Dump the committed KG (logical nodes + edges tables — the latest
        generation after any delta ingests, or ``generation=g`` for a
        time-traveled snapshot dump: the audit/backup artifact "the graph as
        of commit g") as a W3C N-Triples text directory: the interchange
        artifact a triple store / SPARQL endpoint loads. Pure
        column expressions end-to-end and a line-per-triple format, so both
        the write here and any later read split line-parallel with zero
        shuffle (operators/rdf.py). Read back with ``spark.read.text(path)`` →
        ``rdf.from_ntriples`` (or ``sparql_update("LOAD <path/part-*>")``)."""
        from .operators.rdf import DEFAULT_BASE, to_ntriples

        lines = to_ntriples(self.table("edges", generation=generation),
                            self.table("nodes", generation=generation),
                            base=base or DEFAULT_BASE)
        lines.write.mode("overwrite").text(path)
