"""Multi-source BFS: distances from a landmark set, one pass.

Landmark (pivot) distances are the standard building block for
distance-feature pipelines and diameter/closeness estimation. Running
bfs_levels k times scans the graph k times; this runs ALL sources in
one frontier loop with composite state keyed (vertex, root).

Unlike bfs_levels' dense per-vertex state, the state here is SPARSE:
only reached (id, root, dist) triples exist, so per-superstep cost is
O(newly reached + frontier-degree sum) regardless of how many of the
|V| x |roots| combinations are still unreached — on a 10^12-vertex
graph with 16 landmarks the dense formulation would materialize 16T
rows of sentinel state up front; this one grows with reachability
only. Gather key is the composite (dst, root), which hash-spreads hub
vertices across reducers by construction (measured in
BENCH_SALTING.json: composite keys need no salting).

A newly reached pair discovered at superstep s has dist == s exactly
(BFS invariant), so the frontier is a filter on the accumulated state
and the per-step new-pair count rides the materialize job as an
observed metric — one Spark job per superstep. Each step is a superstep
of ``engine/superstep.run_supersteps``, which owns resume and the
commit; a step that reaches no new pair is done.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import materialize_observed, run_supersteps, with_frontier_hint


def multi_source_bfs(
    edges: DataFrame,
    roots,
    max_iters: int = 10_000,
    ctx=None,
) -> DataFrame:
    """(id, root, dist) for every vertex REACHED from each root in
    ``roots`` (a list of ids or a DataFrame with a ``root`` column);
    unreached pairs are simply absent (sparse semantics)."""
    spark = edges.sparkSession
    fwd = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    if not isinstance(roots, DataFrame):
        roots = spark.createDataFrame([(int(r),) for r in roots], "root long")
    active = None  # pairs reached last step, counted off the first cut

    def expand(state, step, n):
        nonlocal active
        if active is None:
            active = state.filter(F.col("dist") == step - 1).count()
        frontier = with_frontier_hint(
            state.filter(F.col("dist") == step - 1).select("id", "root"), active
        )
        msgs = fwd.join(frontier, fwd["src"] == frontier["id"]).select(
            fwd["dst"].alias("id"), "root"
        )
        # min-dist per (dst, root) is just "seen this step and not
        # before": distinct + anti-join the accumulated state
        cand = msgs.distinct().join(state.select("id", "root"), ["id", "root"], "left_anti")
        new = cand.select("id", "root", F.lit(step).alias("dist"))
        state, om = materialize_observed(
            state.unionByName(new),
            [F.sum((F.col("dist") == step).cast("long")).alias("active")],
            ctx,
            step,
        )
        active = int(om["active"] or 0)
        return state, active, None, active == 0

    init = roots.select(F.col("root").alias("id"), "root", F.lit(0).alias("dist"))
    state, _ = run_supersteps(lambda: init, ctx, max_iters, expand)
    return state.select("id", "root", F.col("dist").cast("long").alias("dist"))
