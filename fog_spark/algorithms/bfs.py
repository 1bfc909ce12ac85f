"""BFS levels and multi-root reachability — vertex programs over
cc.min_frontier_loop (TARGET engine).

Reference semantics (application/bfs.hpp:38-100): level(root)=0, all
others the u32 sentinel 4294967295; scatter level+1 along out-edges
(self-loops skipped, fogsrc/cpu_thread.cpp:236-240); gather = MIN;
re-activate improved vertices; stop on empty frontier. Default root 0
(headers/options_utils.h:45-46).

``reachable_set`` is BFS minus the levels: every seed starts at 0 and
scatters its value unchanged, so a vertex drops to 0 once any seed
reaches it. scc and bowtie run it; it lives here because bowtie
imports scc.
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
    state = min_frontier_loop(fwd, lambda: state, "level", F.col("level") + 1, ctx, max_iters, active0=1)
    return state.select("id", "level")


def reachable_set(
    edges: DataFrame,
    seeds: DataFrame,
    vertices: DataFrame,
    max_iters: int = 10_000,
) -> DataFrame:
    """(id) of every vertex in ``vertices`` reachable from the ``seeds``
    ids along directed ``edges``, seeds included."""
    seed_ids = seeds.select("id").distinct().withColumn("seed", F.lit(True))
    seeded = F.coalesce("seed", F.lit(False))
    state = vertices.select("id").join(seed_ids, "id", "left").select(
        "id",
        F.when(seeded, F.lit(0)).otherwise(F.lit(UNREACHED)).cast("long").alias("r"),
        seeded.alias("changed"),
    )
    state = min_frontier_loop(edges.select("src", "dst"), lambda: state, "r", F.col("r"), None, max_iters)
    return state.filter(F.col("r") == 0).select("id")
