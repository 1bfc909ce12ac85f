"""k-core: maximal subgraph where every vertex keeps degree >= k.

Not in FOG (like LPA/triangles, a north-rule link-graph addition): the
standard corpus/link-graph densification primitive — peel vertices with
degree < k, recompute degrees, repeat to fixed point. Undirected
semantics over the symmetrized, de-duplicated, self-loop-free edge
table (a self-loop must not let a vertex keep itself alive).

Each peel round is one degree aggregation + one semi-join restriction;
the surviving-vertex count is OBSERVED on the materialize job
(engine/superstep.materialize_counted), so one Spark job per round.
The edge table is re-restricted lazily against the materialized
survivor set — at 100 TB the round cost is one keyed shuffle over the
still-alive edges, shrinking every round. Each round is one superstep
of ``engine/superstep.run_supersteps``, which owns resume, the step-0
cut of the vertex set and the commit; a round that drops nobody (or
everybody) is done.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import (
    materialize_counted,
    run_supersteps,
    symmetrize,
    vertices_of,
)


def _alive_degrees(sym: DataFrame, alive: DataFrame) -> DataFrame:
    """(id, degree): each alive vertex's degree over the edges of
    ``sym`` with both endpoints in ``alive`` (id); vertices with no
    alive neighbor get no row. The peel round of k-core and densest."""
    return (
        sym.join(alive.select(F.col("id").alias("src")), "src", "left_semi")
        .join(alive.select(F.col("id").alias("dst")), "dst", "left_semi")
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def k_core(
    edges: DataFrame,
    k: int,
    vertices: DataFrame | None = None,
    rounds: int | None = None,
    ctx=None,
) -> DataFrame:
    """(id, degree): vertices surviving the k-core peel with their
    degree in the surviving subgraph.

    ``rounds=None`` peels to the fixed point (the true k-core);
    ``rounds=m`` runs at most m peels (convergence-independent form for
    external fixed-depth oracles, like the fixed-round graph queries).

    ``ctx`` (engine/checkpoint.RunContext): per-round survivor
    snapshots + metrics; a killed run restarted with the same run dir
    continues from the last committed round and reaches the identical
    fixed point, and a converged run dir returns without a round.
    """
    vertices = vertices if vertices is not None else vertices_of(edges)
    # persist: every peel round re-reads the symmetrized edge table
    sym = symmetrize(edges).distinct().persist()
    n_alive = None  # |alive| entering the round

    def peel(alive, m, n):
        nonlocal n_alive
        survivors, n_surv = materialize_counted(
            _alive_degrees(sym, alive).filter(F.col("degree") >= k), ctx, m
        )
        done = n_surv in (n_alive or n, 0)  # nobody dropped / all gone
        n_alive = n_surv
        return survivors, n_surv, None, done

    try:
        init = vertices.select("id", F.lit(None).cast("long").alias("degree"))
        # every state run_supersteps returns is a cut: safe to drop sym
        return run_supersteps(lambda: init, ctx, rounds, peel)[0].select("id", "degree")
    finally:
        sym.unpersist()
