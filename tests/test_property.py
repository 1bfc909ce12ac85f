"""Property-based tests: random graphs vs the NumPy oracles.

Spark job latency bounds example counts; the fixture-zoo tests cover
breadth, these cover adversarial shapes hypothesis finds (multi-edges,
self-loops, isolated ids, dense clumps).
"""

import numpy as np
from hypothesis import HealthCheck, given, settings, strategies as st

from fog_spark import oracles
from fog_spark.algorithms import bfs_levels, connected_components, triangle_counts
from fog_spark.algorithms.pagerank import pagerank_fog

N = 12

edge_lists = st.lists(
    st.tuples(st.integers(0, N - 1), st.integers(0, N - 1)),
    min_size=1,
    max_size=40,
)

SET = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _to_spark(spark, pairs):
    e = np.asarray(pairs, dtype=np.int64)
    from fog_spark.fixtures import Graph, graph_to_spark

    return graph_to_spark(spark, Graph("g_prop", e, N)), e


@SET
@given(pairs=edge_lists)
def test_cc_property(spark, pairs):
    edges, e = _to_spark(spark, pairs)
    vertices = spark.range(N).select("id")
    got = {r["id"]: r["component"] for r in connected_components(edges, vertices).collect()}
    want = oracles.wcc(e, N)
    assert [got[i] for i in range(N)] == want.tolist()


@SET
@given(pairs=edge_lists)
def test_bfs_property(spark, pairs):
    edges, e = _to_spark(spark, pairs)
    vertices = spark.range(N).select("id")
    got = {r["id"]: r["level"] for r in bfs_levels(edges, 0, vertices).collect()}
    want = oracles.bfs(e, N, 0)
    assert [got[i] for i in range(N)] == want.tolist()


@SET
@given(pairs=edge_lists)
def test_pagerank_fog_property(spark, pairs):
    edges, e = _to_spark(spark, pairs)
    vertices = spark.range(N).select("id")
    got = {r["id"]: r["rank"] for r in pagerank_fog(edges, vertices, niters=4).collect()}
    want = oracles.pagerank_fog(e, N, niters=4)
    assert np.allclose([got[i] for i in range(N)], want, atol=1e-6)


@SET
@given(pairs=edge_lists)
def test_triangles_property(spark, pairs):
    edges, e = _to_spark(spark, pairs)
    vertices = spark.range(N).select("id")
    got = {r["id"]: r["tri_count"] for r in triangle_counts(edges, vertices).collect()}
    per, _ = oracles.triangles(e, N)
    assert [got[i] for i in range(N)] == per.tolist()


asof_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 99)),
    min_size=1, max_size=30,
)


@SET
@given(left=asof_events, right=asof_events, tol=st.one_of(st.none(), st.integers(0, 20)))
def test_asof_join_matches_pandas_merge_asof(spark, left, right, tol):
    """asof_join vs pandas.merge_asof — a third independent
    implementation (the driver query already checks DuckDB's ASOF).
    Right side deduped to unique (key, ts): ties there are explicitly
    unspecified."""
    import pandas as pd

    from fog_spark.datapipe.temporal import asof_join

    lp = pd.DataFrame(left, columns=["k", "t", "lv"]).astype("int64")
    rp = (pd.DataFrame(right, columns=["k", "t", "rv"]).astype("int64")
          .groupby(["k", "t"], as_index=False)["rv"].max())
    lp["ts"] = pd.to_datetime(lp["t"], unit="s")
    rp["ts"] = pd.to_datetime(rp["t"], unit="s")

    got = asof_join(
        spark.createDataFrame(lp[["k", "ts", "lv"]]),
        spark.createDataFrame(rp[["k", "ts", "rv"]]),
        on="k", tolerance_s=tol,
    ).collect()

    exp = pd.merge_asof(
        lp.sort_values(["ts", "lv"]), rp.sort_values("ts"),
        on="ts", by="k", suffixes=("", "_r"),
        tolerance=None if tol is None else pd.Timedelta(seconds=tol),
    )
    exp_counts: dict = {}
    for _, row in exp.iterrows():
        key = (row["k"], row["lv"], None if pd.isna(row["rv"]) else int(row["rv"]))
        exp_counts[key] = exp_counts.get(key, 0) + 1
    got_counts: dict = {}
    for r in got:
        key = (r["k"], r["lv"], r["rv_r"])
        got_counts[key] = got_counts.get(key, 0) + 1
    assert got_counts == exp_counts
