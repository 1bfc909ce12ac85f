"""Bowtie decomposition vs the pure-python closure oracle."""

import pytest

from fog_spark import oracles
from fog_spark.algorithms.bowtie import bowtie_decomposition, reachable_set
from fog_spark.fixtures import graph_to_spark, make_er_graph, named_graphs, _g

GRAPHS = named_graphs()
# Broder's picture verbatim: core {2,3}, IN {0,1}, OUT {4,5}, a tube
# (6), a tendril off IN (7), a tendril into OUT (8), a disc pair.
GRAPHS["g_bowtie"] = _g(
    "g_bowtie",
    [(0, 2), (1, 2), (2, 3), (3, 2), (3, 4), (4, 5), (0, 6), (6, 4), (1, 7), (8, 5), (10, 11)],
    n=12,
)
GRAPHS["g_er_sparse"] = make_er_graph(n=60, p=0.02, seed=7)


def _regions(df):
    return {r["id"]: r["region"] for r in df.collect()}


@pytest.mark.parametrize("name", ["g_bowtie", "g_cycle", "g_dag", "g_two_comp", "g_er_sparse"])
def test_bowtie_matches_oracle(spark, name):
    g = GRAPHS[name]
    expected = oracles.bowtie(g.edges, g.n)
    got = _regions(bowtie_decomposition(graph_to_spark(spark, g)))
    assert got == expected


def test_bowtie_classic_regions(spark):
    g = GRAPHS["g_bowtie"]
    got = _regions(bowtie_decomposition(graph_to_spark(spark, g)))
    assert got == {
        0: "IN", 1: "IN", 2: "CORE", 3: "CORE", 4: "OUT", 5: "OUT",
        6: "TUBE", 7: "TENDRIL", 8: "TENDRIL", 10: "DISC", 11: "DISC",
    }


def test_reachable_set_empty_seeds(spark):
    g = GRAPHS["g_bowtie"]
    edges = graph_to_spark(spark, g)
    from fog_spark.engine.superstep import vertices_of

    verts = vertices_of(edges)
    seeds = spark.range(0).select("id")
    assert reachable_set(edges, seeds, verts).count() == 0


def test_reachable_set_basic(spark):
    g = _g("g_chain", [(0, 1), (1, 2), (3, 4)])
    edges = graph_to_spark(spark, g)
    from fog_spark.engine.superstep import vertices_of

    verts = vertices_of(edges)
    seeds = spark.createDataFrame([(0,)], ["id"])
    got = {r["id"] for r in reachable_set(edges, seeds, verts).collect()}
    assert got == {0, 1, 2}


def test_bowtie_empty_graph(spark):
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    assert bowtie_decomposition(empty).collect() == []
