"""Condensation + topological build levels vs the numpy oracle."""

import numpy as np
import pytest

from fog_spark.algorithms.dag import condensation, topo_levels
from fog_spark.fixtures import graph_to_spark, named_graphs
from fog_spark.oracles import topo_levels as np_topo_levels

GRAPHS = named_graphs()


def _spark_levels(spark, g, **kw):
    return {
        r["id"]: (r["component"], r["level"])
        for r in topo_levels(graph_to_spark(spark, g), **kw).collect()
    }


@pytest.mark.parametrize(
    "name",
    ["g_line", "g_cycle", "g_selfloop", "g_two_comp", "g_dag", "g_star_in",
     "g_star_out", "g_tri", "g_er_n100", "g_plaw_n1000"],
)
def test_topo_levels_matches_oracle(spark, name):
    g = GRAPHS[name]
    assert _spark_levels(spark, g) == np_topo_levels(g.edges, g.n)


def test_cycle_collapses_to_one_level(spark):
    # one SCC -> condensation has no edges -> single wave at level 0
    got = _spark_levels(spark, GRAPHS["g_cycle"])
    assert set(got.values()) == {(0, 0)}


def test_two_cycles_with_bridge(spark):
    """Two 3-cycles joined by a bridge edge: classic cyclic-import
    clusters; the downstream cluster must land one build wave later."""
    edges = np.array(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)], dtype=np.int64
    )
    from fog_spark.fixtures import Graph

    g = Graph("bridge", edges, 6)
    got = _spark_levels(spark, g)
    assert got == {0: (0, 0), 1: (0, 0), 2: (0, 0), 3: (3, 1), 4: (3, 1), 5: (3, 1)}


def test_condensation_is_simple_and_acyclic(spark):
    g = GRAPHS["g_er_n100"]
    from fog_spark.algorithms.scc import strongly_connected_components

    e = graph_to_spark(spark, g)
    comps = strongly_connected_components(e).select("id", "component")
    ce = condensation(e, comps)
    rows = [(r["src"], r["dst"]) for r in ce.collect()]
    assert len(rows) == len(set(rows))  # distinct
    assert all(s != d for s, d in rows)  # no self super-loops
    # acyclic: numpy longest-path relaxation terminates (oracle ran above);
    # here assert no pair appears in both orientations
    assert not {(d, s) for s, d in rows} & set(rows)


def test_reuses_precomputed_components(spark):
    g = GRAPHS["g_two_comp"]
    from fog_spark.algorithms.scc import strongly_connected_components

    e = graph_to_spark(spark, g)
    comps = strongly_connected_components(e).select("id", "component")
    got = {
        r["id"]: (r["component"], r["level"])
        for r in topo_levels(e, components=comps).collect()
    }
    assert got == np_topo_levels(g.edges, g.n)


def test_cyclic_labeling_raises(spark):
    """A non-SCC labeling (everything its own component on a cycle)
    must be detected, not loop forever."""
    g = GRAPHS["g_cycle"]
    e = graph_to_spark(spark, g)
    from pyspark.sql import functions as F

    bogus = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("component"))
    )
    with pytest.raises(ValueError, match="cycle"):
        topo_levels(e, components=bogus)


def test_topo_levels_commits_and_resumes(spark, tmp_path, monkeypatch):
    """A ctx run commits one metric record per superstep (the level
    waves plus the final quiet one), and a second call on the same run
    dir resumes from the last record to the same levels, reading the
    SCC map back from its snapshot instead of recomputing it."""
    from fog_spark.algorithms import scc
    from fog_spark.engine.checkpoint import RunContext

    g = GRAPHS["g_plaw_n1000"]
    e = graph_to_spark(spark, g)
    ctx = RunContext(spark, str(tmp_path), "dag")
    first = {r["id"]: (r["component"], r["level"]) for r in topo_levels(e, ctx=ctx).collect()}
    assert first == np_topo_levels(g.edges, g.n)
    max_level = max(level for _, level in first.values())
    steps = [m["superstep"] for m in ctx.metrics()]
    assert steps == list(range(1, max_level + 2))

    def no_scc(*a, **kw):
        raise AssertionError("SCC recomputed on a run dir that holds its snapshot")

    monkeypatch.setattr(scc, "strongly_connected_components", no_scc)
    ctx2 = RunContext(spark, str(tmp_path), "dag")
    again = {r["id"]: (r["component"], r["level"]) for r in topo_levels(e, ctx=ctx2).collect()}
    assert again == first
    assert [m["superstep"] for m in ctx2.metrics()] == steps
