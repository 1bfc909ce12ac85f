"""Single-source shortest paths — frontier Bellman-Ford, a vertex
program over cc.min_frontier_loop (TARGET pattern).

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

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.cc import min_frontier_loop
from fog_spark.engine.superstep import vertices_of

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
    absorb = (F.col("cand.dist") < F.col("dist")) & (F.abs(F.col("cand.dist") - F.col("dist")) > EPS)
    state = min_frontier_loop(
        fwd,
        state,
        "dist",
        F.struct((F.col("dist") + F.col("weight")).alias("dist"), F.col("id").alias("pred")),
        ctx,
        max_iters,
        active0=1,
        merge=[
            F.when(absorb, F.col("cand.dist")).otherwise(F.col("dist")).alias("dist"),
            F.when(absorb, F.col("cand.pred")).otherwise(F.col("pred")).alias("pred"),
            F.coalesce(absorb, F.lit(False)).alias("changed"),
        ],
    )
    return state.select("id", "dist", "pred")
