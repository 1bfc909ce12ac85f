"""Single-source shortest paths — frontier Bellman-Ford (TARGET pattern).

Reference semantics (application/sssp.hpp:38-106, SURVEY §2.8):
dist(source)=0 / else +inf, pred=-1; relax dist(u)+w(u,v) along
out-edges (self-loops skipped); a vertex absorbs a candidate iff it is
strictly smaller AND differs by more than epsilon=1e-3
(headers/types.hpp:17-19 FLOAT_EQ guard); improved vertices re-activate;
stop on empty frontier.

Gather is MIN-BY: the engine takes min(struct(dist, pred)) so equal
distances deterministically break ties toward the smallest predecessor
(the reference's arrival order is nondeterministic there; we pin the
deterministic choice, as FIXTURES.md's goldens do).
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

EPS = 1e-3


def sssp(
    edges: DataFrame,
    source: int = 0,
    vertices: DataFrame | None = None,
    max_iters: int = 10_000,
    ctx=None,
) -> DataFrame:
    """Returns (id, dist, pred); unreached = (inf, -1). Requires a weight column."""
    fwd = edges.filter(F.col("src") != F.col("dst")).select("src", "dst", "weight")

    # default vertex set: every endpoint of every edge (self-loop
    # endpoints included) in ONE aggregate over the edge table
    dv = vertices_of(edges) if vertices is None else vertices.select("id")
    state = dv.select(
        "id",
        F.when(F.col("id") == source, F.lit(0.0)).otherwise(F.lit(float("inf"))).alias("dist"),
        F.lit(-1).cast("long").alias("pred"),
        (F.col("id") == source).alias("changed"),
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
        frontier = with_frontier_hint(state.filter("changed").select("id", "dist"), active)
        msgs = fwd.join(frontier, fwd["src"] == frontier["id"]).select(
            fwd["dst"],
            F.struct(
                (F.col("dist") + F.col("weight")).alias("dist"),
                frontier["id"].alias("pred"),
            ).alias("cand"),
        )
        agg = msgs.groupBy("dst").agg(F.min("cand").alias("cand"))
        absorb = (F.col("cand.dist") < F.col("dist")) & (
            F.abs(F.col("cand.dist") - F.col("dist")) > EPS
        )
        state = (
            # fan-out guard: the agg is bounded by |V|, not frontier * 64
            merge_join(state, agg, state["id"] == agg["dst"], min(active * 64, n_vertices))
            .select(
                "id",
                F.when(absorb, F.col("cand.dist")).otherwise(F.col("dist")).alias("dist"),
                F.when(absorb, F.col("cand.pred")).otherwise(F.col("pred")).alias("pred"),
                F.coalesce(absorb, F.lit(False)).alias("changed"),
            )
        )
        state, om = materialize_observed(state, [active_metric()], ctx, step)
        active = int(om["active"] or 0)
        if ctx is not None:
            ctx.commit(step, active=active, delta=None, wall_s=time.time() - t0, lineage=ctx.lineage_of(state))

    if owned_cache:
        fwd.unpersist()
    return state.select("id", "dist", "pred")
