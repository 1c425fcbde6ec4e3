"""KG build / query benchmark.

    python3 kgbench/run.py --workload query_kg_hub --seed 1 --seconds 8 --trace 0

Run from the repository root. One driver process runs one workload on
``local[<nproc>]``:

1. set-up: Spark session start, seeded input generation into parquet, the
   KG pre-build for a lookup workload, and the workload's untimed warm-up
   operations;
2. the timed loop: the workload's operation repeated by one closed-loop
   client until ``--seconds`` have passed;
3. the check of every output against an oracle computed without Spark.

``--trace 0`` prints the end-to-end metrics; the event log stays off.
``--trace 1`` turns Spark's event log on and, after session start and input
generation, runs one traced cycle (the session's first build, then ingest
on the build workload, or one lookup round and one analytics pass on the
lookup workload; the other side's metrics read 0), and prints the
per-layer rollup, per-operation numbers and the tracing overhead: the share
of the cycle's time spent in the tracer's own bookkeeping (the job-group
switches and the /proc reads of the CPU clock at each layer boundary). The
event log's own cost is not in it.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it,
``env {...}``, records the environment of the run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DRIVER_MEMORY = "3g"   # leaves most of a 15 GB box to Python workers and page cache


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_sha() -> str:
    """Digest of the library and benchmark sources (the checkout may not be
    a git repository)."""
    h = hashlib.sha256()
    for d in (ROOT / "lingvo_spark_kg", BENCH):
        for f in sorted(d.rglob("*.py")):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def set_env(work: Path) -> dict:
    """Environment for this process, the JVM and Spark's Python workers."""
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    env = {"PYTHONPATH": os.pathsep.join(paths),
           "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
           "SPARK_LOCAL_DIRS": str(work / "local"),
           "SPARK_GRAFT_CPUS": str(nproc()),
           "TMPDIR": str(work / "tmp")}
    os.environ.update(env)
    return env


def start_spark(work: Path, event_log: Path | None):
    from lingvo_spark_kg.session import get_spark

    # a heap committed and touched at start keeps the process-tree RSS from
    # following the collector's heap resizing
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"}
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     # the default "formatted" plan description, rendered for
                     # every SQL execution once a listener logs it, doubles
                     # the wall time of the iterative graph operators
                     "spark.sql.ui.explainMode": "simple",
                     "spark.sql.maxPlanStringLength": "4096"})
    return get_spark(app_name="kgbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until both have exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()   # the JVM exits on EOF, taking its Python workers
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Session:
    """One Spark session running one workload: set-up, operations, check."""

    def __init__(self, wl, seed: int, work: Path, traced: bool):
        self.wl, self.seed, self.work, self.traced = wl, seed, work, traced
        self.event_log = work / "eventlog" if traced else None
        self.errors: list[str] = []
        self.mismatches: list[str] = []
        self.spark = self.tracer = self.life = None

    def setup(self) -> float:
        from kgbench import corpus
        from kgbench.workloads import Lifecycle

        t0 = time.perf_counter()
        self.spark = start_spark(self.work, self.event_log)
        if self.traced:
            from kgbench.layers import LayerTracer

            self.tracer = LayerTracer(self.spark)
            self.tracer.install()
        self.docs_path = self.work / "docs.parquet"
        self.delta_path = self.work / "delta.parquet"
        docs_fp = corpus.write_docs(str(self.docs_path), self.wl.corpus,
                                    self.wl.n_docs, self.seed)
        corpus.write_docs(str(self.delta_path), self.wl.corpus,
                          self.wl.n_delta, self.seed, start=self.wl.n_docs)
        self.life = Lifecycle(self.spark, self.wl, str(self.docs_path),
                              str(self.delta_path), docs_fp,
                              str(self.work / "kg"), tracer=self.tracer)
        if not self.traced:            # a traced cycle starts with its build
            if self.wl.op == "lookup":
                self.life.build()      # the KG the lookups read
            for _ in range(self.wl.warmup):
                self.operation()
        return time.perf_counter() - t0

    def operation(self) -> list[float]:
        """One unit of the workload's operation; the latency of each op."""
        if self.wl.op == "build":
            return [self.life.build()]
        return [sum(self.life.lookup_round())]

    def _guarded(self, fn) -> bool:
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — a failed operation is a result
            import traceback

            traceback.print_exc(file=sys.stderr)
            self.errors.append(repr(exc)[:300])
            return False
        return True

    def measure(self, seconds: float) -> list[float]:
        """Latencies of the timed loop's operations."""
        lat: list[float] = []
        t_end = time.perf_counter() + seconds
        while (self._guarded(lambda: lat.extend(self.operation()))
               and time.perf_counter() < t_end):
            pass
        return lat

    def traced_cycle(self) -> dict:
        """The session's first build, then ingest (build workload) or one
        lookup round and one analytics pass (lookup workload), traced."""
        from kgbench.layers import LAYERS

        life, tracer = self.life, self.tracer
        out = {}

        def cycle():
            tracer.start()
            t0 = time.perf_counter()
            out["build_s"] = life.build()
            out["build_layer_s"] = sum(v for g, v in tracer.snapshot().items()
                                       if g in LAYERS)
            # the write path after a build, the read path on the KG: each
            # within the 180 s a run may take on a busy 4-core box
            if self.wl.op == "build":
                life.ingest()
            else:
                life.lookup_round()
                life.analytics_pass()
            out["cycle_s"] = time.perf_counter() - t0
            out["overhead_s"] = tracer.overhead_s

        self._guarded(cycle)
        tracer.flush()
        return out

    def check(self) -> None:
        import pyarrow.parquet as pq

        from kgbench import oracle
        from kgbench.workloads import BFS_HOPS, failed_records

        exp = oracle.expected(pq.read_table(self.docs_path),
                              pq.read_table(self.delta_path), self.life.plan,
                              BFS_HOPS)
        self.mismatches = failed_records(self.life.records, exp)

    @property
    def attempted(self) -> int:
        return len(self.life.records) + len(self.errors) if self.life else 1

    @property
    def failed(self) -> int:
        return len(self.errors) + len(self.mismatches)

    def close(self) -> None:
        if self.tracer:
            self.tracer.uninstall()
        if self.life:
            self.life.close()
        if self.spark:
            stop_spark(self.spark)


def end_to_end(setup_s: float, lat: list[float], peak_rss: int) -> dict:
    """name -> (value, unit, samples)."""
    return {"op_p50_s": (statistics.median(lat), "s", len(lat)),
            "peak_rss_mb": (peak_rss / 2**20, "MB", 1),
            "setup_s": (setup_s, "s", 1)}


def per_layer(sess: Session, cyc: dict) -> dict:
    """name -> (value, unit, samples) for the traced cycle."""
    from kgbench.layers import LAYER_METRICS, LAYERS, OP_METRICS, rollup
    from kgbench.workloads import ANALYTICS, LOOKUPS

    tracer = sess.tracer
    op_layer = {name: layer for name, (layer, _q) in {**LOOKUPS, **ANALYTICS}.items()}
    op_groups = {f"{layer}/{name}": name for name, layer in op_layer.items()}
    roll = rollup(str(sess.event_log), list(LAYERS) + list(op_groups))
    traced_ops = [r for r in sess.life.records if r.op in op_layer]
    out = {}
    for layer in LAYERS:
        owned = [g for g in tracer.wall if g == layer or g.startswith(layer + "/")]
        vals = dict(roll[layer],
                    wall_s=sum(tracer.wall[g] for g in owned),
                    proc_cpu_s=sum(tracer.cpu[g] for g in owned))
        vals["rows_out"] += sum(r.rows for r in traced_ops
                                if op_layer[r.op] == layer)
        for name, unit in LAYER_METRICS:
            out[f"{layer}.{name}"] = (vals[name], unit, 1)
    for group, op in op_groups.items():
        vals = dict(roll[group], wall_s=sum(r.seconds for r in traced_ops
                                            if r.op == op))
        for name, unit in OP_METRICS:
            out[f"op.{op}.{name}"] = (vals[name], unit, 1)
    out["build.layer_wall_share"] = (cyc["build_layer_s"] / cyc["build_s"],
                                     "ratio", 1)
    out["trace_overhead.op_pct"] = (
        100 * cyc["overhead_s"] / (cyc["cycle_s"] - cyc["overhead_s"]), "%", 1)
    return out


def run(args, work: Path) -> tuple[dict, dict, dict]:
    """(result, metrics as name -> (value, unit, samples), environment)."""
    from kgbench.layers import RssSampler
    from kgbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    env = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "nproc": nproc(), **set_env(work),
           "git_commit": git_commit(), "source_sha": source_sha(),
           "loadavg_before": os.getloadavg()}
    metrics: dict = {}
    sess = Session(wl, args.seed, work, traced=bool(args.trace))
    with RssSampler() as rss:
        try:
            setup_s = sess.setup()
            if args.trace:
                cyc = sess.traced_cycle()
            else:
                lat = sess.measure(args.seconds)
            sess.check()
        finally:
            sess.close()
    if not sess.failed:
        metrics = (per_layer(sess, cyc) if args.trace
                   else end_to_end(setup_s, lat, rss.peak_bytes))
    env.update(loadavg_after=os.getloadavg(), errors=sess.errors,
               mismatches=sess.mismatches)
    result = {"correct": sess.failed == 0, "attempted": sess.attempted,
              "failed": sess.failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u, _n) in metrics.items()}}
    return result, metrics, env


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "lingvo_spark_kg" / "pipeline.py").is_file():
        print(f"kgbench: no lingvo_spark_kg package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".kgbench_work" / f"run-{os.getpid()}"
    try:
        result, metrics, env = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass   # another run's directory is still there
    for name, (value, unit, n) in metrics.items():
        print(f"{name:40s} {value:16.6f} {unit:6s} n={n}")
    print(f"{'failed_ratio':40s} {result['failed'] / result['attempted']:16.6f} "
          f"{'ratio':6s} n={result['attempted']}")
    print("env " + json.dumps(env, sort_keys=True))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
