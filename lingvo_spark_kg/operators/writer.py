"""Table writer seam: where stage outputs land (parquet dirs now, Iceberg on a lake).

The north-star spec materializes the graph as partitioned Iceberg node/edge tables;
this sandbox has no Iceberg runtime, so the pipeline writes parquet directories. To
keep that a *deployment* choice instead of a code path, every stage write goes through
a ``TableWriter``:

 * ``ParquetTableWriter`` — directory-per-stage under a workdir; bucketed tables use
   ``partitionBy("bucket")`` (the file-layout stand-in for Iceberg's bucket transform);
   done-detection via the ``_SUCCESS`` marker.
 * ``IcebergTableWriter`` — ``df.writeTo(cat.ns.table).using("iceberg")
   .partitionedBy(bucket(N, col))`` with done-detection via the catalog; construction
   fails fast when the session has no such catalog configured, so SCALE.md's DDL is an
   executable swap (``KgPipeline(writer=IcebergTableWriter(spark, "lake"))``), not
   aspiration.

Both implement the same contract, unit-tested in tests/test_spark_pipeline.py; the
pipeline is writer-agnostic.
"""

from __future__ import annotations

import os
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableWriter(Protocol):
    def write(self, df: DataFrame, table: str, bucket_col: str | None = None,
              n_buckets: int = 32) -> None: ...

    def read(self, spark: SparkSession, table: str) -> DataFrame: ...

    def done(self, spark: SparkSession, table: str) -> bool: ...

    def invalidate(self, spark: SparkSession, table: str) -> None: ...

    def drop(self, spark: SparkSession, table: str) -> None: ...

    def version(self, spark: SparkSession, table: str) -> object | None: ...


class ParquetTableWriter:
    """Directory-per-table parquet layout under ``root``."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write(self, df: DataFrame, table: str, bucket_col: str | None = None,
              n_buckets: int = 32) -> None:
        w = df
        if bucket_col is not None:
            # co-locate and order by bucket so downstream bucket-wise consumers read
            # contiguous files — the parquet analog of Iceberg's bucket(N, col)
            w = w.repartition(n_buckets, bucket_col).sortWithinPartitions(bucket_col)
        writer = w.write.mode("overwrite")
        if bucket_col is not None:
            writer = writer.partitionBy(bucket_col)
        writer.parquet(self._path(table))
        # schema sidecar (Iceberg tables carry their schema in the catalog; parquet
        # dirs must carry it themselves): an EMPTY stage result — a real outcome for
        # e.g. a corpus slice yielding zero triples — writes no part files, and a
        # schema-less read of it fails with UNABLE_TO_INFER_SCHEMA
        with open(os.path.join(self._path(table), "_schema.json"), "w") as f:
            f.write(df.schema.json())

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        import json

        from pyspark.sql.types import StructType

        p = self._path(table)
        sidecar = os.path.join(p, "_schema.json")
        if os.path.exists(sidecar):
            with open(sidecar) as f:
                schema = StructType.fromJson(json.load(f))
            return spark.read.schema(schema).parquet(p)
        return spark.read.parquet(p)  # pre-sidecar table: infer as before

    def done(self, spark: SparkSession, table: str) -> bool:
        # BOTH markers: the sidecar lands after Spark's _SUCCESS commit, so a crash
        # between the two must read as not-done (rebuild) rather than leaving a
        # "done" table whose empty-read would fail without the schema
        p = self._path(table)
        return (os.path.exists(os.path.join(p, "_SUCCESS"))
                and os.path.exists(os.path.join(p, "_schema.json")))

    def version(self, spark: SparkSession, table: str) -> object | None:
        """A token that changes whenever the table is rewritten — the
        ``_SUCCESS`` marker's inode and mtime, since every committed write
        replaces the marker — or None when the table is not committed."""
        try:
            st = os.stat(os.path.join(self._path(table), "_SUCCESS"))
        except FileNotFoundError:
            return None
        return st.st_ino, st.st_mtime_ns

    def invalidate(self, spark: SparkSession, table: str) -> None:
        """Mark the table not-done (the pipeline's config-change guard calls this so
        a rebuild that crashes partway can never resume onto stale-config stages).
        Removing the markers is enough — the data files are overwritten on rebuild."""
        p = self._path(table)
        for marker in ("_SUCCESS", "_schema.json"):
            mp = os.path.join(p, marker)
            if os.path.exists(mp):
                os.remove(mp)

    def drop(self, spark: SparkSession, table: str) -> None:
        """Invalidate AND reclaim the table's storage — the retention primitive
        (expire_generations). Storage ownership lives HERE, not in the caller:
        an injected writer with a different layout reclaims its own files."""
        import shutil

        self.invalidate(spark, table)
        p = self._path(table)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)


class IcebergTableWriter:
    """Iceberg catalog tables (production lake). Requires a configured catalog —
    e.g. ``spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog`` — and the
    Iceberg runtime on the classpath; constructor fails fast otherwise.

    IMPORTANT: ``done()`` keys on the CATALOG, while the pipeline's config-change
    guard lives in its workdir — so every pipeline instance must get its OWN
    ``namespace``. Two pipelines sharing a namespace would silently cross-resume
    each other's tables (a fresh workdir has no config.json to catch the mismatch)
    and concurrent runs would clobber each other's createOrReplace."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "kg"):
        try:
            impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
        except Exception:  # noqa: BLE001 — Spark raises for unset conf keys
            impl = None
        if not impl:
            raise RuntimeError(
                f"no Spark catalog '{catalog}' configured "
                f"(spark.sql.catalog.{catalog} unset) — IcebergTableWriter needs an "
                "Iceberg catalog + runtime jar; use ParquetTableWriter here"
            )
        self.catalog = catalog
        self.namespace = namespace

    def _full(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def write(self, df: DataFrame, table: str, bucket_col: str | None = None,
              n_buckets: int = 32) -> None:
        w = df.writeTo(self._full(table)).using("iceberg")
        if bucket_col is not None:
            w = w.partitionedBy(F.bucket(n_buckets, bucket_col))
        w.createOrReplace()

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.table(self._full(table))

    def done(self, spark: SparkSession, table: str) -> bool:
        return spark.catalog.tableExists(self._full(table))

    def version(self, spark: SparkSession, table: str) -> object | None:
        # a catalog commit leaves no local marker to compare; None = the table
        # is never memoized (KgPipeline.table re-reads it on every call)
        return None

    def invalidate(self, spark: SparkSession, table: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {self._full(table)}")

    def drop(self, spark: SparkSession, table: str) -> None:
        # catalog DROP already reclaims (subject to the lake's GC policy)
        self.invalidate(spark, table)
