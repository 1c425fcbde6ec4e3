"""spark-submit packaging helper.

Builds the ``--py-files`` zip of this package and launches (or prints) the
spark-submit command for the KG pipeline job — the deployment shape the north-star
spec mandates ("launches via spark-submit --py-files"). On a real cluster, pass
``--master`` / executor confs; locally it defaults to local[N].

Usage:
    python -m lingvo_spark_kg.submit --workdir /tmp/kgrun --n-docs 100000
    python -m lingvo_spark_kg.submit --print-only        # show the command
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile
import zipfile

PKG_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(PKG_DIR)

JOB_TEMPLATE = """\
import sys
from lingvo_spark_kg.pipeline import KgPipeline
from pyspark.sql import SparkSession

spark = SparkSession.builder.getOrCreate()
workdir, n_docs = sys.argv[1], int(sys.argv[2])
counts = KgPipeline(spark, workdir, n_docs=n_docs).run(resume=True)
print("kg-pipeline counts:", counts)
"""


def build_pyfiles_zip(out_path: str | None = None) -> str:
    out_path = out_path or os.path.join(tempfile.gettempdir(), "lingvo_spark_kg.zip")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(PKG_DIR):
            if "__pycache__" in root:
                continue
            for f in files:
                # code + every runtime data file the package loads (chartypes npz
                # cache, sentence-splitter tables) — a .py-only zip imports but
                # fails at table load on executors
                if f.endswith((".py", ".npz", ".json.gz", ".json")):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, REPO_DIR)
                    z.write(full, rel)
    return out_path


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workdir", default="/tmp/kg_pipeline_run")
    ap.add_argument("--n-docs", type=int, default=10_000)
    ap.add_argument("--master", default=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]")
    ap.add_argument("--print-only", action="store_true")
    args = ap.parse_args()

    zip_path = build_pyfiles_zip()
    job_path = os.path.join(tempfile.gettempdir(), "lingvo_kg_job.py")
    with open(job_path, "w") as f:
        f.write(JOB_TEMPLATE)

    cmd = [
        "spark-submit",
        "--master", args.master,
        "--py-files", zip_path,
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.adaptive.skewJoin.enabled=true",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", "spark.sql.shuffle.partitions=64",
        # session.get_spark's default: the job's getOrCreate() would
        # otherwise capture a Python call site on every Column call
        "--conf", "spark.python.sql.dataFrameDebugging.enabled=false",
        job_path, args.workdir, str(args.n_docs),
    ]
    print(" ".join(cmd))
    if not args.print_only:
        sys.exit(subprocess.call(cmd))


if __name__ == "__main__":
    main()
