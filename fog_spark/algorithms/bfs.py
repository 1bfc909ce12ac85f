"""BFS levels — a vertex program over cc.min_frontier_loop (TARGET engine).

Reference semantics (application/bfs.hpp:38-100): level(root)=0, all
others the u32 sentinel 4294967295; scatter level+1 along out-edges
(self-loops skipped, fogsrc/cpu_thread.cpp:236-240); gather = MIN;
re-activate improved vertices; stop on empty frontier. Default root 0
(headers/options_utils.h:45-46).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.cc import min_frontier_loop
from fog_spark.engine.superstep import vertices_of

UNREACHED = 4294967295


def bfs_levels(
    edges: DataFrame,
    root: int = 0,
    vertices: DataFrame | None = None,
    max_iters: int = 10_000,
    ctx=None,
) -> DataFrame:
    """Returns (id, level); unreached vertices carry the 4294967295 sentinel."""
    fwd = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")

    # default vertex set: every endpoint of every edge (self-loop
    # endpoints included) in ONE aggregate over the edge table
    dv = vertices_of(edges) if vertices is None else vertices.select("id")
    state = dv.select(
        "id",
        F.when(F.col("id") == root, F.lit(0)).otherwise(F.lit(UNREACHED)).cast("long").alias("level"),
        (F.col("id") == root).alias("changed"),
    )
    state = min_frontier_loop(fwd, state, "level", F.col("level") + 1, ctx, max_iters, active0=1)
    return state.select("id", "level")
