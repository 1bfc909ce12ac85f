"""BFS levels (TARGET engine pattern).

Reference semantics (application/bfs.hpp:38-100): level(root)=0, all
others the u32 sentinel 4294967295; scatter level+1 along out-edges
(self-loops skipped, fogsrc/cpu_thread.cpp:236-240); gather = MIN;
re-activate improved vertices; stop on empty frontier. Default root 0
(headers/options_utils.h:45-46).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import (
    active_metric,
    materialize,
    materialize_observed,
    merge_join,
    prepare_gather_edges,
    vertices_of,
    with_frontier_hint,
)

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
    start_step = 0
    if ctx is not None:
        rp = ctx.resume_point_at_most(max_iters)
        if rp is not None:
            start_step, state = rp
    if start_step == 0:
        state = materialize(state, ctx, 0)
    n_vertices = state.count()
    active = state.filter("changed").count() if start_step else 1

    # gather-aligned edge cache (superstep.prepare_gather_edges): zero
    # shuffle exchanges per superstep in the broadcast-state regime
    prepared = prepare_gather_edges(fwd, n_vertices)
    owned_cache = prepared is not fwd
    fwd = prepared

    for step in range(start_step + 1, max_iters + 1):
        if active == 0:
            break
        t0 = time.time()
        frontier = with_frontier_hint(state.filter("changed").select("id", "level"), active)
        msgs = fwd.join(frontier, fwd["src"] == frontier["id"]).select(
            fwd["dst"], (F.col("level") + 1).alias("cand")
        )
        agg = msgs.groupBy("dst").agg(F.min("cand").alias("cand"))
        state = (
            # fan-out guard: the agg is bounded by |V|, not frontier * 64
            merge_join(state, agg, state["id"] == agg["dst"], min(active * 64, n_vertices))
            .select(
                "id",
                F.least("level", F.coalesce("cand", F.col("level"))).alias("level"),
                (F.coalesce("cand", F.col("level")) < F.col("level")).alias("changed"),
            )
        )
        state, om = materialize_observed(state, [active_metric()], ctx, step)
        active = int(om["active"] or 0)
        if ctx is not None:
            ctx.commit(step, active=active, delta=None, wall_s=time.time() - t0, lineage=ctx.lineage_of(state))

    if owned_cache:
        fwd.unpersist()
    return state.select("id", "level")
