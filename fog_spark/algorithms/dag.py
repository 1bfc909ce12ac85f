"""Condensation DAG + longest-path topological layering (build levels).

For a directed dependency graph (code imports, package requires — the
repo link graph this engine derives), the canonical scheduling question
is "what can build in parallel, and in what order": collapse cyclic
clusters (SCCs, algorithms/scc.py — reference application/scc.hpp
semantics) into super-vertices, then layer the acyclic condensation by
longest path —

    level(c) = 0                      if c has no predecessor
    level(c) = 1 + max(level(pred))   otherwise

Level k is the k-th parallel build wave; max(level) is the critical
path. Not an app in FOG (fogsrc/main.cpp:51-135 lists its programs);
it composes the engine's SCC with a longest-path relaxation, run as a
vertex program over cc.min_frontier_loop on neg = -level (MAX is MIN
negated: BFS's gather, A3 in SURVEY §2.5).

Scale shape: condensation is two keyed joins + one distinct, all keyed
by vertex/component id. Each level round is one frontier superstep over
the |C| component rows, one Spark job with the active count observed.
Round count = critical-path length of the condensation, not |V|. A
frontier still live after |C| supersteps means a cycle in
`components` (a non-SCC labeling was passed), which raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.cc import min_frontier_loop
from fog_spark.engine.superstep import materialize


def condensation(edges: DataFrame, components: DataFrame) -> DataFrame:
    """Distinct super-edges (src, dst) between DIFFERENT components.

    ``edges``: directed (src, dst); ``components``: (id, component)
    covering every endpoint. Two hash joins + one distinct, keyed on
    vertex then (component, component).
    """
    cs = components.select(F.col("id").alias("src"), F.col("component").alias("cs"))
    cd = components.select(F.col("id").alias("dst"), F.col("component").alias("cd"))
    return (
        edges.select("src", "dst")
        .join(cs, "src")
        .join(cd, "dst")
        .where(F.col("cs") != F.col("cd"))
        .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .distinct()
    )


def topo_levels(
    edges: DataFrame,
    components: DataFrame | None = None,
    ctx=None,
) -> DataFrame:
    """(id, component, level): longest-path layer of each vertex's SCC
    in the condensation DAG.

    ``components`` defaults to the engine's convergent SCC labeling;
    pass a precomputed (id, component) frame to reuse one. Runs the
    relaxation to its fixed point (level growth is monotone and
    bounded by the critical path, so termination is guaranteed on a
    true condensation; a cyclic labeling is detected and raised).
    ``ctx`` commits every superstep and resumes a run dir. A default
    SCC labeling is snapshotted there once (``components/step=0``), so
    a rerun reads it back instead of recomputing SCC; a run dir
    without that snapshot recomputes it.
    """
    if components is not None:
        comp = materialize(components)
    else:
        comp = ctx.state_at(0, name="components") if ctx is not None else None
        if comp is None:
            from fog_spark.algorithms.scc import strongly_connected_components

            scc = strongly_connected_components(edges).select("id", "component")
            comp = materialize(scc, ctx, 0, name="components")
    cedges = materialize(condensation(edges, comp))
    # longest path = MIN over neg = -level: a source sends neg - 1 to
    # its successors
    state = comp.select(F.col("component").alias("id")).distinct().select(
        "id", F.lit(0).cast("long").alias("neg"), F.lit(True).alias("changed")
    )
    n_comp = state.count()
    state = min_frontier_loop(cedges, state, "neg", F.col("neg") - 1, ctx, n_comp)
    # a true condensation settles within |C| supersteps
    if not state.filter("changed").isEmpty():
        raise ValueError(
            "topo_levels did not converge within |C| rounds — "
            "`components` is not an SCC labeling (condensation has a cycle)"
        )
    levels = state.select(F.col("id").alias("component"), (-F.col("neg")).alias("level"))
    return comp.join(levels, "component").select("id", "component", "level")
