"""PageRank vs the NumPy oracles, FOG-mode quirks included."""

import numpy as np
import pytest

from fog_spark import oracles
from fog_spark.algorithms.pagerank import pagerank_fog, pagerank_standard
from fog_spark.fixtures import graph_to_spark, named_graphs

GRAPHS = named_graphs()


def _ranks(df, n):
    rows = {r["id"]: r["rank"] for r in df.collect()}
    return np.array([rows[i] for i in range(n)])


@pytest.mark.parametrize("name", ["g_cycle", "g_selfloop", "g_star_in", "g_star_out", "g_dag", "g_er_n100"])
def test_pagerank_fog_matches_oracle(spark, name):
    g = GRAPHS[name]
    expected = oracles.pagerank_fog(g.edges, g.n, niters=10)
    vertices = spark.range(g.n).select("id")
    got = _ranks(pagerank_fog(graph_to_spark(spark, g), vertices, niters=10), g.n)
    assert np.allclose(got, expected, atol=1e-6)


def test_pagerank_fog_selfloop_participates(spark):
    """GLOBAL scatter keeps self-loops (fogsrc/cpu_thread.cpp:509-534)."""
    g = GRAPHS["g_selfloop"]
    expected = oracles.pagerank_fog(g.edges, g.n, niters=3)
    vertices = spark.range(g.n).select("id")
    got = _ranks(pagerank_fog(graph_to_spark(spark, g), vertices, niters=3), g.n)
    assert np.allclose(got, expected, atol=1e-6)
    # sanity: the self-loop vertices differ from a version without loops
    no_loops = g.edges[g.edges[:, 0] != g.edges[:, 1]]
    alt = oracles.pagerank_fog(no_loops, g.n, niters=3)
    assert not np.allclose(expected, alt)


def test_pagerank_standard_converges_to_1e6(spark):
    g = GRAPHS["g_er_n100"]
    expected, _ = oracles.pagerank_standard(g.edges, g.n, tol=1e-6)
    vertices = spark.range(g.n).select("id")
    got_df, iters = pagerank_standard(graph_to_spark(spark, g), vertices, tol=1e-6)
    got = _ranks(got_df.withColumnRenamed("rank", "rank"), g.n)
    assert iters < 200
    assert np.allclose(got, expected, atol=1e-6)
    assert abs(got.sum() - 1.0) < 1e-6  # normalized: total mass conserved


def test_ppr_matches_numpy(spark):
    """Seeded-teleport PageRank converges to the numpy PPR fixed point."""
    from fog_spark.algorithms.pagerank import pagerank_personalized

    g = GRAPHS["g_er_n100"]
    seeds_ids = [0, 7, 31]
    expected, _ = oracles.pagerank_personalized(g.edges, g.n, seeds_ids)
    vertices = spark.range(g.n).select("id")
    seeds = spark.createDataFrame([(i,) for i in seeds_ids], "id long")
    got_df, iters = pagerank_personalized(
        graph_to_spark(spark, g), seeds, vertices=vertices, tol=1e-9)
    got = _ranks(got_df, g.n)
    assert np.allclose(got, expected, atol=1e-6)
    assert iters > 1
    assert abs(got.sum() - 1.0) < 1e-6  # mass conserved (dangling -> seeds)


def test_ppr_zero_outside_reachable_set(spark):
    """Teleport + dangling go only to seeds, so an entire component
    unreachable from the seed set holds exactly rank 0."""
    from fog_spark.algorithms.pagerank import pagerank_personalized

    # component A: 0->1->2->0; component B: 3<->4 (unreachable from A)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "id long")
    got_df, _ = pagerank_personalized(edges, seeds, tol=1e-10)
    got = {r["id"]: r["rank"] for r in got_df.collect()}
    assert got[3] == 0.0 and got[4] == 0.0
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[0] > got[1] > 0  # seed holds the most mass


def test_ppr_empty_seeds_rejected(spark):
    from fog_spark.algorithms.pagerank import pagerank_personalized

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank_personalized(edges, edges.select("src").alias("x").selectExpr("src as id").limit(0))


def test_hits_matches_numpy(spark):
    """HITS converged hubs/authorities vs the numpy oracle, incl. a
    graph where they genuinely differ per vertex (a star with chords)."""
    from fog_spark.algorithms.hits import hits as hits_spark

    for name in ("g_star_in", "g_dag", "g_er_n100"):
        g = GRAPHS[name]
        ea, eh = oracles.hits(g.edges, g.n, niters=8)
        vertices = spark.range(g.n).select("id")
        rows = {r["id"]: (r["authority"], r["hub"])
                for r in hits_spark(graph_to_spark(spark, g), vertices, niters=8).collect()}
        got_a = np.array([rows[i][0] for i in range(g.n)])
        got_h = np.array([rows[i][1] for i in range(g.n)])
        assert np.allclose(got_a, ea, atol=1e-9), name
        assert np.allclose(got_h, eh, atol=1e-9), name


def test_hits_resume_matches_clean(spark, tmp_path):
    from fog_spark.algorithms.hits import hits as hits_spark
    from fog_spark.engine.checkpoint import RunContext

    g = GRAPHS["g_er_n100"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")
    clean = {tuple(r) for r in hits_spark(edges, vertices, niters=4).collect()}
    ctx1 = RunContext(spark, str(tmp_path), "runH")
    hits_spark(edges, vertices, niters=2, ctx=ctx1)
    ctx2 = RunContext(spark, str(tmp_path), "runH")
    resumed = {tuple(r) for r in hits_spark(edges, vertices, niters=4, ctx=ctx2).collect()}
    assert {r[0] for r in resumed} == {r[0] for r in clean}
    a = sorted(clean); b = sorted(resumed)
    assert np.allclose([x[1] for x in a], [x[1] for x in b], rtol=1e-12)
    assert np.allclose([x[2] for x in a], [x[2] for x in b], rtol=1e-12)


def test_pagerank_weighted_matches_numpy(spark):
    """Weighted transitions vs the numpy oracle; a zero-weight edge is
    equivalent to no edge (its source can even become dangling)."""
    from fog_spark.algorithms.pagerank import pagerank_weighted

    g = GRAPHS["g_er_n100"]
    expected, _ = oracles.pagerank_weighted(g.edges, g.weights(), g.n, tol=1e-10)
    vertices = spark.range(g.n).select("id")
    edges = graph_to_spark(spark, g)  # carries the deterministic weight col
    got_df, iters = pagerank_weighted(edges, vertices, tol=1e-10)
    got = _ranks(got_df, g.n)
    assert np.allclose(got, expected, atol=1e-8)
    assert iters > 1
    assert abs(got.sum() - 1.0) < 1e-8

    # hand case: 0 -> {1 (w=3), 2 (w=1)}: vertex 1 gets 3x vertex 2's inflow
    e2 = spark.createDataFrame(
        [(0, 1, 3.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)],
        "src long, dst long, weight double")
    r = {row["id"]: row["rank"] for row in pagerank_weighted(e2, tol=1e-12)[0].collect()}
    d = 0.85
    assert abs((r[1] - (1 - d) / 3) - 3 * (r[2] - (1 - d) / 3)) < 1e-9
