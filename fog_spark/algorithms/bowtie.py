"""Bowtie decomposition of a directed graph (Broder et al. 2000,
"Graph structure in the Web", WWW9).

The classic web-graph macro-structure: the largest SCC is the CORE;
IN reaches the core, OUT is reached from it, TUBEs run IN->OUT around
the core, TENDRILs hang off IN (unable to reach the core) or feed OUT
(unreachable from the core), and DISC is everything else.

The reference engine ships the ingredients (SCC via fwd/bwd label
rounds, application/scc.hpp:22-207; BFS frontier supersteps,
application/bfs.hpp:38-100) but not the composition; this module is
the composition, Spark-first:

1. ``strongly_connected_components`` -> per-vertex component labels;
   the CORE is the largest component (ties: smallest label), a single
   1-row driver aggregate.
2. Four reachability fixed points (``bfs.reachable_set``, a vertex
   program over cc.min_frontier_loop — BFS minus the levels):
   forward/backward from CORE, forward from IN, backward from OUT.
   A path IN -> CORE -> v puts v in OUT by construction, so
   reachability over the FULL graph classifies the remainder exactly
   as "via paths avoiding the core" — no subgraph restriction needed.
3. One five-flag left-join cascade assigns regions.

Every step is a frontier superstep (one Spark job each, observed
active counts) over the loop's gather-aligned edge cache; nothing here
is quadratic and no driver transfer exceeds one row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.bfs import reachable_set
from fog_spark.algorithms.scc import strongly_connected_components
from fog_spark.engine.superstep import materialize, vertices_of

REGIONS = ("CORE", "IN", "OUT", "TUBE", "TENDRIL", "DISC")


def _flag(ids: DataFrame, name: str) -> DataFrame:
    return ids.select("id").withColumn(name, F.lit(True))


def bowtie_decomposition(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 10_000,
) -> DataFrame:
    """Returns (id, region) with region in REGIONS. Exact."""
    vertices = vertices if vertices is not None else vertices_of(edges)
    e = materialize(edges.filter(F.col("src") != F.col("dst")).select("src", "dst"))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    vertices = materialize(vertices)

    scc = strongly_connected_components(e, vertices)
    core_row = (
        scc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("component"))
        .limit(1)
        .collect()
    )
    if not core_row:  # empty vertex set: no core, no regions
        return vertices.select("id", F.lit(None).cast("string").alias("region"))
    core_lbl = core_row[0]["component"]
    core = materialize(scc.filter(F.col("component") == F.lit(core_lbl)).select("id"))

    fwd = reachable_set(e, core, vertices, max_iters)  # CORE ∪ OUT
    bwd = reachable_set(rev, core, vertices, max_iters)  # CORE ∪ IN
    inn = materialize(bwd.join(core, "id", "left_anti"))
    outt = materialize(fwd.join(core, "id", "left_anti"))
    from_in = reachable_set(e, inn, vertices, max_iters)
    to_out = reachable_set(rev, outt, vertices, max_iters)

    flags = (
        vertices.join(_flag(core, "c"), "id", "left")
        .join(_flag(fwd, "f"), "id", "left")
        .join(_flag(bwd, "b"), "id", "left")
        .join(_flag(from_in, "fi"), "id", "left")
        .join(_flag(to_out, "t"), "id", "left")
    )
    region = (
        F.when(F.col("c"), F.lit("CORE"))
        .when(F.col("b"), F.lit("IN"))
        .when(F.col("f"), F.lit("OUT"))
        .when(F.col("fi") & F.col("t"), F.lit("TUBE"))
        .when(F.col("fi") | F.col("t"), F.lit("TENDRIL"))
        .otherwise(F.lit("DISC"))
    )
    return flags.select("id", region.alias("region"))
