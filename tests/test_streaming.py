"""Structured Streaming: incremental degrees, sessions, stateful stats."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fog_spark.streaming import (
    compact_degrees,
    incremental_degrees,
    read_degrees,
    stream_edges,
    stream_event_sessions,
    stream_running_user_stats,
)


def _write_edge_batch(spark, path, pairs):
    pdf = pd.DataFrame(pairs, columns=["src", "dst"])
    pdf["weight"] = 1.0
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(path)


def test_incremental_degrees_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "edges_in")
    deg_path = str(tmp_path / "degrees")
    ckpt = str(tmp_path / "ckpt")

    _write_edge_batch(spark, inp, [(0, 1), (0, 2), (1, 2)])
    q = incremental_degrees(stream_edges(spark, inp), deg_path, ckpt)
    q.awaitTermination()
    got1 = {r["id"]: r["outdeg"] for r in read_degrees(spark, deg_path).collect()}
    assert got1 == {0: 2, 1: 1}

    # second drop arrives; stream resumes from checkpoint, publishes a delta
    _write_edge_batch(spark, inp, [(0, 3), (2, 0), (2, 1)])
    q = incremental_degrees(stream_edges(spark, inp), deg_path, ckpt)
    q.awaitTermination()
    got2 = {r["id"]: r["outdeg"] for r in read_degrees(spark, deg_path).collect()}
    assert got2 == {0: 3, 1: 1, 2: 2}

    # compaction folds deltas into a base; totals unchanged, reads stay correct
    compact_degrees(spark, deg_path)
    got3 = {r["id"]: r["outdeg"] for r in read_degrees(spark, deg_path).collect()}
    assert got3 == got2
    # compaction is idempotent (crash-rerun safe)
    compact_degrees(spark, deg_path)
    assert {r["id"]: r["outdeg"] for r in read_degrees(spark, deg_path).collect()} == got2

    # a post-compaction delta lands on top of the base
    _write_edge_batch(spark, inp, [(9, 0)])
    incremental_degrees(stream_edges(spark, inp), deg_path, ckpt).awaitTermination()
    got4 = {r["id"]: r["outdeg"] for r in read_degrees(spark, deg_path).collect()}
    assert got4 == {0: 3, 1: 1, 2: 2, 9: 1}


def test_stream_event_sessions(spark, tmp_path):
    inp = str(tmp_path / "events_in")
    rows = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "ts": pd.to_datetime(
                ["2026-01-01 10:00", "2026-01-01 10:10", "2026-01-01 12:00", "2026-01-01 10:00"]
            ),
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    )
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(inp)
    stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP, value DOUBLE").parquet(inp)
    q = (
        stream_event_sessions(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT user_id, n_events, sum_value FROM sess ORDER BY user_id, n_events").collect()
    # user 1: one 2-event session + one 1-event session; user 2: one session
    assert [(r["user_id"], r["n_events"], r["sum_value"]) for r in out] == [
        (1, 1, 3.0),
        (1, 2, 3.0),
        (2, 1, 4.0),
    ]


def test_stream_running_user_stats(spark, tmp_path):
    inp = str(tmp_path / "ev2")
    rows = pd.DataFrame({"user_id": [1, 1, 2, 2, 2], "value": [5.0, 9.0, 1.0, 7.0, 3.0]})
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(inp)
    stream = spark.readStream.schema("user_id LONG, value DOUBLE").parquet(inp)
    q = (
        stream_running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r["user_id"]: (r["n"], r["max_value"]) for r in spark.sql("SELECT * FROM stats").collect()}
    assert out == {1: (2, 9.0), 2: (3, 7.0)}


def test_read_degrees_single_snapshot_semantics(spark, tmp_path):
    """A delta above the base watermark is live; one at/below it is
    folded history and must be ignored (compaction/read race defense:
    both sets derive from one listing)."""
    import pandas as pd

    deg = str(tmp_path / "degsnap")
    for part, rows in [
        ("base=2", [(1, 5)]),
        ("batch=1", [(1, 99)]),  # stale: already folded into base=2
        ("batch=3", [(1, 2), (7, 1)]),  # live delta above the watermark
    ]:
        spark.createDataFrame(pd.DataFrame(rows, columns=["id", "outdeg"])).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{deg}/{part}")
    got = {r["id"]: r["outdeg"] for r in read_degrees(spark, deg).collect()}
    assert got == {1: 7, 7: 1}


def test_compaction_grace_window(spark, tmp_path):
    """Vacuum is delayed one compaction cycle: an in-flight reader that
    listed parts BEFORE a compaction can still scan them afterwards;
    only a second compaction deletes what the first superseded."""
    import pandas as pd

    deg = str(tmp_path / "deggrace")

    def write_part(part, rows):
        spark.createDataFrame(pd.DataFrame(rows, columns=["id", "outdeg"])).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{deg}/{part}")

    write_part("batch=0", [(1, 1)])
    write_part("batch=1", [(1, 2), (5, 1)])
    lazy_reader = read_degrees(spark, deg)  # lists now, scans later
    compact_degrees(spark, deg)  # publishes base=1; batch 0/1 kept one cycle
    assert {r["id"]: r["outdeg"] for r in lazy_reader.collect()} == {1: 3, 5: 1}

    write_part("batch=2", [(5, 4)])
    lazy_reader2 = read_degrees(spark, deg)  # snapshot: base=1 + batch=2
    compact_degrees(spark, deg)  # publishes base=2; deletes batch 0/1, keeps base=1
    # the first compaction's products survive for the in-flight reader
    assert {r["id"]: r["outdeg"] for r in lazy_reader2.collect()} == {1: 3, 5: 5}
    assert {r["id"]: r["outdeg"] for r in read_degrees(spark, deg).collect()} == {1: 3, 5: 5}
    # and the THIRD compaction (after one more delta) vacuums base=1
    write_part("batch=3", [(9, 1)])
    compact_degrees(spark, deg)
    from fog_spark.engine import fs

    names = fs.list_names(spark, deg)
    assert "base=1" not in names and "batch=0" not in names and "batch=1" not in names
    assert {r["id"]: r["outdeg"] for r in read_degrees(spark, deg).collect()} == {1: 3, 5: 5, 9: 1}


def test_idle_compaction_vacuums_after_one_cycle(spark, tmp_path):
    """An idle stream (compactions with NO new batches) must still
    converge to zero dead parts: the first repeat keeps the one-cycle
    grace, the second vacuums everything the current base superseded."""
    import pandas as pd

    from fog_spark.engine import fs

    deg = str(tmp_path / "degidle")
    for part, rows in [("batch=0", [(1, 1)]), ("batch=1", [(1, 2), (5, 1)])]:
        spark.createDataFrame(pd.DataFrame(rows, columns=["id", "outdeg"])).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{deg}/{part}")
    compact_degrees(spark, deg)  # publishes base=1, grace cycle begins
    lazy_reader = read_degrees(spark, deg)  # snapshot: base=1 only
    compact_degrees(spark, deg)  # idle repeat: cycle elapsed -> vacuum deltas
    names = fs.list_names(spark, deg)
    assert "batch=0" not in names and "batch=1" not in names, names
    assert "base=1" in names
    assert {r["id"]: r["outdeg"] for r in lazy_reader.collect()} == {1: 3, 5: 1}
    compact_degrees(spark, deg)  # further idles are no-ops, still correct
    assert {r["id"]: r["outdeg"] for r in read_degrees(spark, deg).collect()} == {1: 3, 5: 1}


def test_incremental_degrees_replay_is_idempotent(spark, tmp_path):
    """Regression: foreachBatch is at-least-once; a replayed batch must
    not double-count (the batch partition already exists → skipped)."""
    import shutil

    inp = str(tmp_path / "edges_in2")
    deg_path = str(tmp_path / "degrees2")
    ckpt = str(tmp_path / "ckpt2")
    _write_edge_batch(spark, inp, [(7, 8), (7, 9)])
    incremental_degrees(stream_edges(spark, inp), deg_path, ckpt).awaitTermination()
    before = {r["id"]: r["outdeg"] for r in read_degrees(spark, deg_path).collect()}
    # simulate a crash that lost the stream commit but kept the table:
    # wipe the checkpoint so the same files replay as batch 0 again
    shutil.rmtree(ckpt)
    incremental_degrees(stream_edges(spark, inp), deg_path, ckpt).awaitTermination()
    after = {r["id"]: r["outdeg"] for r in read_degrees(spark, deg_path).collect()}
    assert after == before == {7: 2}


def test_incremental_edge_log_roundtrip(spark, tmp_path):
    """The streaming-maintained edge log IS the union of all batches —
    across delta publishes, compaction, and idempotent re-compaction."""
    from fog_spark.streaming import compact_edge_log, incremental_edge_log, read_edge_log

    inp = str(tmp_path / "raw_in")
    log = str(tmp_path / "edge_log")
    ckpt = str(tmp_path / "elog_ckpt")

    b1 = [(0, 1), (0, 2), (1, 2), (2, 0)]
    _write_edge_batch(spark, inp, b1)
    incremental_edge_log(stream_edges(spark, inp), log, ckpt).awaitTermination()
    assert sorted((r["src"], r["dst"]) for r in read_edge_log(spark, log).collect()) == sorted(b1)

    b2 = [(2, 3), (3, 0), (3, 1)]
    _write_edge_batch(spark, inp, b2)
    incremental_edge_log(stream_edges(spark, inp), log, ckpt).awaitTermination()
    want = sorted(b1 + b2)
    assert sorted((r["src"], r["dst"]) for r in read_edge_log(spark, log).collect()) == want

    compact_edge_log(spark, log)
    assert sorted((r["src"], r["dst"]) for r in read_edge_log(spark, log).collect()) == want
    compact_edge_log(spark, log)  # crash-rerun / idle idempotence
    assert sorted((r["src"], r["dst"]) for r in read_edge_log(spark, log).collect()) == want


def test_stream_pagerank_bridge_warm_start(spark, tmp_path):
    """streaming→graph bridge: pagerank_standard runs unchanged off
    read_edge_log, and warm-starting from the pre-delta fixed point
    reaches the SAME answer in fewer supersteps than a uniform start."""
    import numpy as np

    from fog_spark.algorithms.pagerank import pagerank_standard
    from fog_spark.streaming import incremental_edge_log, read_edge_log

    inp = str(tmp_path / "pr_in")
    log = str(tmp_path / "pr_log")
    ckpt = str(tmp_path / "pr_ckpt")

    rng = np.random.default_rng(7)
    # skewed base graph (far from uniform fixed point): hub + random edges
    b1 = [(i, 0) for i in range(1, 25)] + [
        (int(rng.integers(0, 25)), int(rng.integers(0, 25))) for _ in range(40)
    ]
    _write_edge_batch(spark, inp, b1)
    incremental_edge_log(stream_edges(spark, inp), log, ckpt).awaitTermination()
    r1, _ = pagerank_standard(read_edge_log(spark, log), tol=1e-9)
    r1 = r1.localCheckpoint(eager=True)

    # small delta batch: one new vertex + two rewires
    _write_edge_batch(spark, inp, [(25, 0), (0, 25), (3, 7)])
    incremental_edge_log(stream_edges(spark, inp), log, ckpt).awaitTermination()
    edges2 = read_edge_log(spark, log)
    cold, it_cold = pagerank_standard(edges2, tol=1e-9)
    warm, it_warm = pagerank_standard(edges2, tol=1e-9, init_ranks=r1)

    got_cold = {r["id"]: r["rank"] for r in cold.collect()}
    got_warm = {r["id"]: r["rank"] for r in warm.collect()}
    assert set(got_cold) == set(got_warm)
    for k in got_cold:
        assert abs(got_cold[k] - got_warm[k]) < 1e-7, k
    assert it_warm < it_cold, (it_warm, it_cold)


def test_stream_cc_bridge_warm_start(spark, tmp_path):
    """Incremental CC off the edge log: warm-starting from the pre-delta
    labels (which also injects the label-star shortcut edges) reaches
    the exact cold answer in fewer supersteps on a high-diameter graph."""
    from fog_spark.algorithms.cc import connected_components
    from fog_spark.engine.checkpoint import RunContext
    from fog_spark.streaming import incremental_edge_log, read_edge_log

    inp = str(tmp_path / "cc_in")
    log = str(tmp_path / "cc_log")
    ckpt = str(tmp_path / "cc_ckpt")

    # two 10-vertex paths: worst case for hash-min (1 hop per round)
    b1 = [(i, i + 1) for i in range(0, 9)] + [(i, i + 1) for i in range(10, 19)]
    _write_edge_batch(spark, inp, b1)
    incremental_edge_log(stream_edges(spark, inp), log, ckpt).awaitTermination()
    c1 = connected_components(read_edge_log(spark, log)).localCheckpoint(
        eager=True
    )
    assert {r["component"] for r in c1.collect()} == {0, 10}

    # delta merges the paths and extends the tail
    _write_edge_batch(spark, inp, [(9, 10), (19, 20)])
    incremental_edge_log(stream_edges(spark, inp), log, ckpt).awaitTermination()
    edges2 = read_edge_log(spark, log)
    ctx_cold = RunContext(spark, str(tmp_path / "runs"), "cold", collect_lineage=False)
    cold = connected_components(edges2, ctx=ctx_cold)
    ctx_warm = RunContext(spark, str(tmp_path / "runs"), "warm", collect_lineage=False)
    warm = connected_components(edges2, ctx=ctx_warm, init_labels=c1)

    got_cold = {r["id"]: r["component"] for r in cold.collect()}
    got_warm = {r["id"]: r["component"] for r in warm.collect()}
    assert got_cold == got_warm == {i: 0 for i in range(21)}
    it_cold = max(m["superstep"] for m in ctx_cold.metrics())
    it_warm = max(m["superstep"] for m in ctx_warm.metrics())
    assert it_warm < it_cold, (it_warm, it_cold)
