"""Table-format seam for durable per-superstep state.

The checkpoint layer (engine/checkpoint.RunContext) stores two things:
step-partitioned STATE snapshots and small per-step METRIC records.
Both go through this interface, so the storage backend is swappable:

- ``ParquetDirFormat`` — directory-of-parquet with rename-based atomic
  commit (the sandbox/default implementation; byte-identical layout to
  the pre-seam RunContext, so existing run dirs keep resuming).
- ``IcebergFormat`` — the production mapping, 1:1: a state table
  partitioned by ``step`` where ``overwritePartitions()`` replaces one
  step's partition in a single snapshot commit (the transactional
  analogue of the parquet impl's rename-aside protocol), and a metrics
  table of (step, payload) rows committed the same way. This sandbox
  ships no Iceberg runtime jars, so the implementation verifies catalog
  availability at construction and its call shape is pinned by unit
  tests with a recording session double (tests/test_table_format.py).

Interface contract (all step-keyed):

- ``write_partition(df, name, step) -> DataFrame`` — atomically replace
  partition ``step`` of table ``name``; return the re-read frame (the
  caller's lineage restarts at the committed data).
- ``read_partition(name, step)`` / ``partition_exists(name, step)`` /
  ``delete_partition(name, step)`` / ``list_partitions(name)``.
- ``write_record(name, step, text)`` — atomically publish one small
  control-plane record; ``read_records(name) -> [(step, text)]`` in
  step order; ``delete_record(name, step)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from fog_spark.engine import fs


class ParquetDirFormat:
    """<root>/<name>/step=00042/ parquet partitions + <name>/step=00042.json
    records, all committed by atomic rename (engine/fs)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # -- partitions ---------------------------------------------------------

    def _pdir(self, name: str, step: int) -> str:
        return f"{self.root}/{name}/step={step:05d}"

    def write_partition(self, df: DataFrame, name: str, step: int) -> DataFrame:
        """Commit protocol: write to a temp dir, atomically rename into
        place. A pre-existing dir for the same step (re-run after
        resume) is renamed aside first and deleted only after the new
        snapshot is live, so no crash window destroys the only copy.
        The re-read takes ``df``'s schema rather than inferring one
        (read_partition, which has no schema at hand, still infers)."""
        path = self._pdir(name, step)
        tmp = path + ".tmp"
        aside = path + ".old"
        fs.delete(self.spark, tmp)
        df.write.mode("overwrite").parquet(tmp)
        fs.delete(self.spark, aside)
        had_old = False
        if fs.exists(self.spark, path):
            had_old = fs.rename(self.spark, path, aside)
            if not had_old:  # FS refused the aside rename: clear the way
                fs.delete(self.spark, path)
        if not fs.rename(self.spark, tmp, path):
            raise IOError(f"checkpoint commit rename failed: {tmp} -> {path}")
        if had_old:
            fs.delete(self.spark, aside)
        # the schema just written: no footer-reading inference job
        return self.spark.read.schema(df.schema).parquet(path)

    def read_partition(self, name: str, step: int) -> DataFrame:
        return self.spark.read.parquet(self._pdir(name, step))

    def partition_lineage(self, name: str, step: int) -> dict[str, int] | None:
        """write-task partition id -> row count, read from the parquet
        FOOTERS of the committed partition — a driver-side metadata
        read, zero Spark jobs (the write itself already recorded the
        counts; re-scanning the state for them doubled every
        checkpointed superstep's job count). Returns None when the
        footers aren't reachable from the driver (non-local FS without
        a pyarrow filesystem) so the caller can fall back to a scan."""
        path = self._pdir(name, step)
        local = path
        for pre in ("file://", "file:"):
            if local.startswith(pre):
                local = local[len(pre):]
                break
        if "://" in local:
            return None
        try:
            import os
            import re

            import pyarrow.parquet as pq

            out: dict[str, int] = {}
            for fn in os.listdir(local):
                if not fn.endswith(".parquet"):
                    continue
                m = re.match(r"part-(\d+)-", fn)
                key = str(int(m.group(1))) if m else fn
                nrows = pq.ParquetFile(os.path.join(local, fn)).metadata.num_rows
                out[key] = out.get(key, 0) + nrows
            return out
        except Exception:
            return None

    def partition_exists(self, name: str, step: int) -> bool:
        return fs.exists(self.spark, self._pdir(name, step))

    def delete_partition(self, name: str, step: int) -> None:
        fs.delete(self.spark, self._pdir(name, step))

    def list_partitions(self, name: str) -> list[int]:
        return sorted(
            int(n[5:])
            for n in fs.list_names(self.spark, f"{self.root}/{name}")
            if n.startswith("step=") and n[5:].isdigit()
        )

    # -- records ------------------------------------------------------------

    def _rpath(self, name: str, step: int) -> str:
        return f"{self.root}/{name}/step={step:05d}.json"

    def write_record(self, name: str, step: int, text: str) -> None:
        path = self._rpath(name, step)
        tmp = f"{self.root}/{name}/.tmp-{step:05d}.json"
        fs.write_text(self.spark, tmp, text)
        fs.delete(self.spark, path)
        if not fs.rename(self.spark, tmp, path):
            raise IOError(f"record commit rename failed: {tmp} -> {path}")

    def read_records(self, name: str) -> list[tuple[int, str]]:
        # sort by the parsed integer step, not the filename: at
        # step >= 100000 the %05d format widens and 'step=100000' would
        # sort lexicographically BEFORE 'step=99999'
        names = sorted(
            (n for n in fs.list_names(self.spark, f"{self.root}/{name}")
             if n.startswith("step=") and n.endswith(".json")),
            key=lambda n: int(n[5:-5]),
        )
        out = []
        for n in names:
            try:
                out.append((int(n[5:-5]), fs.read_text(self.spark, f"{self.root}/{name}/{n}")))
            except Exception:
                # a damaged/vanished record must not brick the listing —
                # skip it (JVM-side read failures surface as
                # py4j.protocol.Py4JJavaError, hence the broad except)
                continue
        return out

    def delete_record(self, name: str, step: int) -> None:
        fs.delete(self.spark, self._rpath(name, step))


class IcebergFormat:
    """Iceberg-backed implementation of the same contract.

    Mapping (the "1:1" the parquet impl documents):

    - table ``<namespace>.<prefix>_<name>`` partitioned by ``step``;
      ``write_partition`` = append a ``step`` literal column +
      ``writeTo(t).overwritePartitions()`` — one snapshot commit that
      atomically replaces exactly that step's partition (Iceberg's
      dynamic partition overwrite), the transactional analogue of the
      parquet impl's rename-aside. First write creates the table with
      ``writeTo(t).partitionedBy(col("step")).create()``.
    - records: a ``(step int, payload string)`` table, same commit.
    - reads are partition-pruned scans (``WHERE step = K`` on a table
      partitioned by step prunes to one partition's files).

    Requires a session with the Iceberg runtime and a configured
    catalog (``spark.sql.catalog.<catalog>``); construction fails fast
    with guidance when absent (this sandbox ships no Iceberg jars).
    """

    def __init__(self, spark: SparkSession, namespace: str, prefix: str = "fogspark",
                 catalog: str = "spark_catalog", check: bool = True):
        self.spark = spark
        self.namespace = namespace
        self.prefix = prefix
        self.catalog = catalog
        if check and not self.available(spark, catalog):
            raise RuntimeError(
                f"Iceberg catalog '{catalog}' is not configured on this session "
                f"(set spark.sql.catalog.{catalog}=org.apache.iceberg.spark.SparkCatalog "
                f"and ship the iceberg-spark-runtime jar); "
                f"use ParquetDirFormat in jar-less environments"
            )

    @staticmethod
    def available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        return impl is not None and "iceberg" in str(impl).lower()

    def _table(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{self.prefix}_{name}"

    # -- partitions ---------------------------------------------------------

    def write_partition(self, df: DataFrame, name: str, step: int) -> DataFrame:
        t = self._table(name)
        if "step" in df.columns:
            # the partition column is stamped onto the frame; silently
            # overwriting a caller's own 'step' column would destroy
            # that data on checkpoint and drop it again on read
            raise ValueError(
                "state frame already has a 'step' column, which IcebergFormat "
                "reserves for its partition key — rename it before checkpointing"
            )
        stamped = df.withColumn("step", F.lit(step))
        if self.spark.catalog.tableExists(t):
            stamped.writeTo(t).overwritePartitions()
        else:
            stamped.writeTo(t).partitionedBy(F.col("step")).create()
        return self.read_partition(name, step)

    def read_partition(self, name: str, step: int) -> DataFrame:
        return self.spark.table(self._table(name)).where(F.col("step") == step).drop("step")

    def partition_exists(self, name: str, step: int) -> bool:
        t = self._table(name)
        if not self.spark.catalog.tableExists(t):
            return False
        return not self.spark.table(t).where(F.col("step") == step).isEmpty()

    def delete_partition(self, name: str, step: int) -> None:
        if self.spark.catalog.tableExists(self._table(name)):
            self.spark.sql(f"DELETE FROM {self._table(name)} WHERE step = {int(step)}")

    def list_partitions(self, name: str) -> list[int]:
        t = self._table(name)
        if not self.spark.catalog.tableExists(t):
            return []
        return sorted(
            r["step"] for r in self.spark.table(t).select("step").distinct().collect()
        )

    # -- records ------------------------------------------------------------

    def write_record(self, name: str, step: int, text: str) -> None:
        row = self.spark.createDataFrame([(int(step), text)], "step int, payload string")
        t = self._table(name)
        if self.spark.catalog.tableExists(t):
            row.writeTo(t).overwritePartitions()
        else:
            row.writeTo(t).partitionedBy(F.col("step")).create()

    def read_records(self, name: str) -> list[tuple[int, str]]:
        t = self._table(name)
        if not self.spark.catalog.tableExists(t):
            return []
        rows = self.spark.table(t).select("step", "payload").collect()
        return sorted((r["step"], r["payload"]) for r in rows)

    def delete_record(self, name: str, step: int) -> None:
        self.delete_partition(name, step)
