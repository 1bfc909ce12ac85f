"""Per-superstep durable checkpoints with partition lineage + metrics.

FOG writes vertex state back to the ``.attr`` file at the end of a run
(reference: fogsrc/fog_engine.cpp:245-261) and cannot survive a crash
mid-iteration. The north_rule upgrades this: every superstep commits

- ``state/step=K/``  — the full vertex-state DataFrame as parquet (one
  file per Spark partition = the "per-partition vertex state");
- ``metrics/step=K.json`` — superstep number, active count,
  convergence delta, wall time, and per-partition lineage (partition id
  → row count) — published by atomic rename only AFTER the parquet
  commit, so a metric file always names a complete snapshot, and a
  crash mid-commit leaves at worst an invisible temp file (never a
  truncated record, which the old append-to-jsonl layout could).

All storage goes through the ``TableFormat`` seam
(engine/table_format): the default ``ParquetDirFormat`` keeps the
layout above via the Hadoop FileSystem API (engine/fs), so the run
directory can live on ``file:/``, ``hdfs://`` or any object store with
an FS connector; ``IcebergFormat`` maps the same operations 1:1 onto
step-partitioned Iceberg tables with snapshot commits (no Iceberg
runtime jars in this container — its call shape is pinned by unit
tests). ``resume()`` restores the loop from the last committed
superstep whose state snapshot is actually present.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from fog_spark.engine.table_format import ParquetDirFormat

_METRICS = "metrics"


class RunContext:
    def __init__(self, spark: SparkSession, run_dir: str, run_id: str = "run0",
                 collect_lineage: bool = True, keep_last: int | None = None,
                 table_format=None):
        """``keep_last=K`` turns on retention: every commit() vacuums
        snapshots/metrics older than the newest K supersteps (never the
        resume point). ``None`` (default) keeps full history.
        ``table_format``: a TableFormat implementation (default: the
        parquet-dir format rooted at <run_dir>/<run_id>)."""
        self.spark = spark
        self.root = f"{run_dir.rstrip('/')}/{run_id}"
        self.run_id = run_id
        self.collect_lineage = collect_lineage
        self.keep_last = keep_last
        self.fmt = table_format if table_format is not None else ParquetDirFormat(spark, self.root)
        self._last_write: tuple[str, int] | None = None

    # -- state ------------------------------------------------------------

    def write_state(self, df: DataFrame, step: int, name: str = "state") -> DataFrame:
        """Durably write one superstep's state through the table format
        (atomic partition replace); return the re-read frame (lineage
        now starts at the committed data — the plan is cut)."""
        out = self.fmt.write_partition(df, name, step)
        self._last_write = (name, step)
        return out

    def read_state(self, step: int, name: str = "state") -> DataFrame:
        return self.fmt.read_partition(name, step)

    def state_at(self, step: int, name: str = "state") -> DataFrame | None:
        """The committed snapshot AT a specific superstep, or None when
        its partition is absent (vacuumed, or never written)."""
        if self.fmt.partition_exists(name, step):
            return self.read_state(step, name=name)
        return None

    # -- metrics / lineage --------------------------------------------------

    def lineage_of(self, df: DataFrame) -> dict[str, int]:
        """partition id -> row count of the state write_state last
        committed.

        Whenever a write exists, its counts come from the write itself
        (the format's ``partition_lineage`` reads the parquet footers /
        table metadata driver-side, zero Spark jobs) and ``df`` is not
        looked at: every caller passes the frame write_state just
        returned. Only before any write, or with a format that has no
        metadata access, is ``df`` scanned — one extra Spark job."""
        if not self.collect_lineage:
            return {}
        if self._last_write is not None:
            fn = getattr(self.fmt, "partition_lineage", None)
            if fn is not None:
                got = fn(*self._last_write)
                if got is not None:
                    return got
        rows = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
        return {str(r["p"]): r["count"] for r in rows}

    def commit(self, step: int, *, active: int, delta: float | None, wall_s: float, lineage: dict | None = None, **extra) -> None:
        rec = {
            "run_id": self.run_id,
            "superstep": step,
            "active": active,
            "delta": delta,
            "wall_s": round(wall_s, 4),
            "ts": time.time(),
            "lineage": lineage or {},
            **extra,
        }
        # atomic publish through the format — a silently dropped metric
        # would make the committed state invisible to resume, so the
        # format implementations fail loudly on commit failure
        self.fmt.write_record(_METRICS, step, json.dumps(rec))
        if self.keep_last is not None:
            self.vacuum(self.keep_last)

    def metrics(self) -> list[dict]:
        out = []
        for _step, text in self.fmt.read_records(_METRICS):
            try:
                out.append(json.loads(text))
            except Exception:
                # a damaged record must not brick resume — skip it; the
                # matching state snapshot is simply not resumed into.
                continue
        return out

    def vacuum(self, keep_last: int = 2, name: str = "state") -> list[int]:
        """Checkpoint retention: delete state snapshots + metric records
        older than the newest ``keep_last`` committed supersteps, so a
        1,000-superstep run stores O(keep_last) snapshots, not 1,000
        (FOG overwrites ONE .attr file in place —
        fogsrc/fog_engine.cpp:245-261 — this is the durable analogue).

        The newest step whose snapshot is actually PRESENT (the resume
        point) is always kept, even when commits newer than it lost
        their snapshots. Returns the vacuumed step numbers."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        steps = [r["superstep"] for r in self.metrics()]
        if not steps:
            return []
        keep = set(steps[-keep_last:])
        for s in reversed(steps):  # protect the resume point
            if self.fmt.partition_exists(name, s):
                keep.add(s)
                break
        min_keep = min(keep)
        # metric-less snapshots (the step-0 init write, or orphans from a
        # crash between write_state and commit) age out with the window too
        state_steps = set(self.fmt.list_partitions(name))
        removed = []
        for s in sorted(set(steps) | state_steps):
            if s in keep:
                continue
            if s not in steps and s >= min_keep:
                continue  # metric-less partition at/above the window: possibly in-flight
            self.fmt.delete_partition(name, s)
            self.fmt.delete_record(_METRICS, s)
            removed.append(s)
        return removed

    def last_committed(self) -> dict | None:
        m = self.metrics()
        return m[-1] if m else None

    def resume_point(self, name: str = "state") -> tuple[int, DataFrame] | None:
        """(last committed superstep with a present snapshot, its state),
        or None if fresh. Walks backwards past any commit whose state
        directory is missing.

        Presence test = the partition exists: write_state publishes
        snapshots only atomically (rename of a fully-written temp dir /
        an Iceberg snapshot commit), so a present partition is complete
        by construction. (Deliberately NOT keyed on _SUCCESS: clusters
        with mapreduce.fileoutputcommitter.marksuccessfuljobs=false —
        common on object stores — write no marker, and requiring one
        would silently disable resume there.)"""
        for rec in reversed(self.metrics()):
            step = rec["superstep"]
            if self.fmt.partition_exists(name, step):
                return step, self.read_state(step, name=name)
        return None

    def resume_point_at_most(self, max_step: int, name: str = "state") -> tuple[int, DataFrame] | None:
        """``resume_point`` capped at the REQUESTED depth: a run dir
        whose last committed superstep exceeds ``max_step`` (it was
        produced by a deeper earlier run) must yield the snapshot AT
        ``max_step``, not silently return a deeper iterate — a caller
        asking for k iterations gets exactly k. Raises when retention
        (``keep_last``) vacuumed the requested step's snapshot, because
        no state this run dir still holds can answer the request."""
        rp = self.resume_point(name)
        if rp is None:
            return None
        step, state = rp
        if step <= max_step:
            return rp
        exact = self.state_at(max_step, name=name)
        if exact is None:
            raise ValueError(
                f"run dir {self.root!r} has superstep {step} committed but the "
                f"requested superstep {max_step} snapshot was vacuumed by "
                f"keep_last retention; resume cannot honor the requested depth "
                f"— use a fresh run_dir or request >= {step} supersteps"
            )
        return max_step, exact
