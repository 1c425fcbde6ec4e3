"""Layer attribution from outside the library: Spark job groups, a wall/CPU
clock per group, the Spark event-log rollup, and a process-tree RSS sampler.

Each layer is a module of ``lingvo_spark_kg``. Nothing in the library changes:

* ``LayerTracer.install`` wraps the layer entry points that ``KgPipeline``
  calls (module attributes, restored by ``uninstall``) and hands the pipeline
  a ``TableWriter`` that runs each stage write under its layer's group. Spark
  plans are lazy, so most of a stage's work runs inside the write; eager work
  (iteration loops, checkpoints) runs inside the wrapped call.
* The outermost active span owns the time: a layer call made from inside
  another layer call (``apply_delta`` linking its delta) stays with the
  caller.
* Between spans the group is the caller's base group: ``writer`` during a
  build or ingest (stage I/O, markers, the summary counts), or the
  operation's own group during queries.

Group ids are paths, ``<layer>`` or ``<layer>/<op>``, so the event log rolls up
per layer by prefix and per operation exactly.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("writer", "tokenize", "tag", "triples", "linking", "canonicalize",
          "graph", "incremental", "sparql")
LAYER_METRICS = (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                 ("proc_cpu_s", "s"), ("shuffle_write_mb", "MB"),
                 ("spill_mb", "MB"), ("task_skew", "ratio"),
                 ("rows_out", "count"))
OP_METRICS = (("wall_s", "s"), ("jobs", "count"), ("task_skew", "ratio"))

# stage table -> layer whose plan the write executes
STAGE_LAYER = {"docs": "writer", "media_spans": "tokenize",
               "sentences": "tokenize", "tagged": "tag",
               "triples_raw": "triples", "links": "linking",
               "canonical_map": "canonicalize", "linked_triples": "linking",
               "nodes": "graph", "edges": "graph", "metrics": "graph"}

# (module, attribute, layer): the layer entry points KgPipeline calls
ENTRY_POINTS = (
    ("lingvo_spark_kg.pipeline", "media_spans", "tokenize"),
    ("lingvo_spark_kg.pipeline", "tokenize_docs", "tokenize"),
    ("lingvo_spark_kg.pipeline", "tag_sentences_lexicon", "tag"),
    ("lingvo_spark_kg.operators.tag", "tag_sentences_bilstm", "tag"),
    ("lingvo_spark_kg.operators.tag", "tag_sentences_bilstm_dedup", "tag"),
    ("lingvo_spark_kg.pipeline", "docs_to_triples_fused", "triples"),
    ("lingvo_spark_kg.pipeline", "extract_triples_df", "triples"),
    ("lingvo_spark_kg.operators.linking", "mentions_from_triples", "linking"),
    ("lingvo_spark_kg.operators.linking", "link_mentions", "linking"),
    ("lingvo_spark_kg.operators.linking", "link_mentions_fuzzy", "linking"),
    ("lingvo_spark_kg.operators.linking", "link_triples", "linking"),
    ("lingvo_spark_kg.operators.canonicalize", "canonical_map", "canonicalize"),
    ("lingvo_spark_kg.operators.graph", "build_nodes", "graph"),
    ("lingvo_spark_kg.operators.graph", "build_edges_table", "graph"),
    ("lingvo_spark_kg.operators.graph", "partition_metrics", "graph"),
    ("lingvo_spark_kg.operators.incremental", "apply_delta", "incremental"),
)


def stage_layer(table: str) -> str:
    """Layer of a stage table; ``__bN`` batch tables belong to the base
    stage's layer, ``__gN`` graph generations to the incremental merge."""
    base, _, sfx = table.partition("__")
    if sfx.startswith("g") and base != "metrics":
        return "incremental"
    return STAGE_LAYER.get(base, "writer")


# ---------------------------------------------------------------- /proc ----
_TICK = os.sysconf("SC_CLK_TCK")


def _tree_pids(root: int) -> list[int]:
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the process tree as the sum of proportional set
    sizes: pages shared between processes count once, so a child caught
    between fork and exec does not count the parent's heap a second time."""
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the live process tree, reaped children included."""
    ticks = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / _TICK


class RssSampler:
    """Background thread recording the peak resident memory (PSS sum) of
    this process tree."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------- tracer ----
class _GroupWriter:
    """TableWriter proxy: a stage write runs under its layer's job group."""

    def __init__(self, inner, tracer: "LayerTracer"):
        self._inner = inner
        self._tracer = tracer

    def write(self, df, table, bucket_col=None, n_buckets=32):
        with self._tracer.span(stage_layer(table)):
            self._inner.write(df, table, bucket_col=bucket_col,
                              n_buckets=n_buckets)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class LayerTracer:
    """Sets Spark job groups at layer boundaries and clocks each group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._root = os.getpid()
        self._stack: list[str] = []
        self._base = "setup"
        self._since = time.perf_counter()
        self._cpu_since = tree_cpu_s(self._root)
        self.wall: dict[str, float] = defaultdict(float)
        self.cpu: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0   # time spent in the bookkeeping of _switch
        self._patched: list[tuple] = []
        self.active = False
        self._set_group(self._base)

    def start(self) -> None:
        """Begin attribution: everything before this stays in ``setup``."""
        self.flush()
        self.wall.clear()
        self.cpu.clear()
        self.overhead_s = 0.0
        self.active = True

    def snapshot(self) -> dict[str, float]:
        self.flush()
        return dict(self.wall)

    # -- clock
    def _current(self) -> str:
        return self._stack[0] if self._stack else self._base

    def _switch(self, change) -> None:
        now, cpu = time.perf_counter(), tree_cpu_s(self._root)
        cur = self._current()
        self.wall[cur] += now - self._since
        self.cpu[cur] += cpu - self._cpu_since
        self._since, self._cpu_since = now, cpu
        change()
        if self._current() != cur:
            self._set_group(self._current())
        self.overhead_s += time.perf_counter() - now

    def _set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    @contextmanager
    def base(self, group: str):
        """Group that owns the time between layer spans (e.g. one query)."""
        if not self.active:
            yield
            return
        prev = self._base
        self._switch(lambda: setattr(self, "_base", group))
        try:
            yield
        finally:
            self._switch(lambda: setattr(self, "_base", prev))

    @contextmanager
    def span(self, layer: str):
        """A layer call; only the outermost active span switches the group."""
        if not self.active:
            yield
            return
        self._switch(lambda: self._stack.append(layer))
        try:
            yield
        finally:
            self._switch(self._stack.pop)

    def flush(self) -> None:
        self._switch(lambda: None)

    # -- instrumentation
    def writer_for(self, workdir: str):
        from lingvo_spark_kg.operators.writer import ParquetTableWriter

        return _GroupWriter(ParquetTableWriter(workdir), self)

    def install(self) -> None:
        import importlib

        # import every module before patching any: a module imported later
        # would bind a wrapper through its own ``from ... import``
        mods = {name: importlib.import_module(name) for name, _a, _l in ENTRY_POINTS}
        for mod_name, attr, layer in ENTRY_POINTS:
            mod = mods[mod_name]
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, layer))
            self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, layer: str):
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


# ------------------------------------------------------ event-log rollup ----
def _read_events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def _skew(run_ms_by_stage: dict[int, list[int]]) -> float:
    """max / median task run time of the busiest stage (most run time)."""
    if not run_ms_by_stage:
        return 1.0
    runs = max(run_ms_by_stage.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0


def rollup(log_dir: str, groups) -> dict[str, dict[str, float]]:
    """Per group prefix: jobs, tasks, executor run/CPU seconds, shuffle write
    and spill MB, task skew and records written, from Spark's event log.

    ``groups`` are prefixes; a job counts toward every prefix its job-group
    id equals or extends with ``/``."""
    stage_group: dict[int, str] = {}
    job_groups: list[str] = []
    tasks: list[tuple[int, dict]] = []
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_groups.append(group)
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))

    def owns(prefix: str, group: str) -> bool:
        return group == prefix or group.startswith(prefix + "/")

    out = {}
    for prefix in groups:
        run_by_stage: dict[int, list[int]] = defaultdict(list)
        agg = defaultdict(float)
        for sid, m in tasks:
            if not owns(prefix, stage_group.get(sid, "")):
                continue
            agg["tasks"] += 1
            agg["run_ms"] += m.get("Executor Run Time", 0)
            agg["cpu_ns"] += m.get("Executor CPU Time", 0)
            agg["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            agg["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            agg["rows"] += (m.get("Output Metrics") or {}).get(
                "Records Written", 0)
            run_by_stage[sid].append(m.get("Executor Run Time", 0))
        out[prefix] = {
            "jobs": sum(1 for g in job_groups if owns(prefix, g)),
            "tasks": int(agg["tasks"]),
            "executor_run_s": agg["run_ms"] / 1e3,
            "executor_cpu_s": agg["cpu_ns"] / 1e9,
            "shuffle_write_mb": agg["shuffle_b"] / 2**20,
            "spill_mb": agg["spill_b"] / 2**20,
            "task_skew": _skew(run_by_stage),
            "rows_out": int(agg["rows"]),
        }
    return out
