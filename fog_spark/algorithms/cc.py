"""Connected components by hash-min label propagation (WCC).

Reference semantics (SURVEY §2.8, application/cc.hpp:36-133): labels
start as own id; rounds alternate a forward pass over out-edges and a
backward pass over in-edges with a MIN gather; improved vertices
re-activate; fixed point = min vertex id of the weakly-connected
component. One pass per round over the SYMMETRIZED edge table converges
to the identical labels (and is how a distributed engine should do it —
no second reverse-CSR copy, reference convert/process_in_edge.cpp made
one on disk).

TARGET-engine frontier scheduling (fogsrc/fog_engine.cpp:159-209):
only changed vertices scatter; terminate when the frontier empties.
The frontier join is broadcast-hinted when it fits, and the
per-superstep active count is observed on the materialize job itself
(engine/superstep.materialize_observed) — one Spark job per superstep,
not two.
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
    symmetrize,
    with_frontier_hint,
)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 200,
    ctx=None,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns (id, component) — component = min id of the WCC. Exact.

    ``init_labels`` ((id, component)) warm-starts an incremental run —
    the previous fixed point after a delta batch grew the graph
    (``streaming.read_edge_log``). Two things happen: vertices start at
    their old label instead of their own id, and each (id, old-label)
    pair is unioned into the edge set as a SHORTCUT edge — old labels
    alone don't help (the new min still walks the old component's
    topology hop by hop), but the label star contracts every old
    component to diameter <= 2, so convergence needs only as many
    rounds as the contracted delta graph. The result is exactly the
    cold answer PROVIDED the old labels come from a run over a subset
    of the current graph (grow-only log): every old label is the id of
    a current member vertex, so min-over-labels = min id, and shortcut
    edges are chords inside components.
    """
    base = edges
    if init_labels is not None:
        star = init_labels.select(
            F.col("id").alias("src"), F.col("component").alias("dst")
        ).filter(F.col("src") != F.col("dst"))
        base = edges.select("src", "dst").unionByName(star)
    sym = symmetrize(base)  # self-loops dropped: TARGET rule cpu_thread.cpp:236-240

    # state carries a `changed` flag; the frontier is a projection of it.
    # Default vertex set = ONE aggregate over sym — sym reaches every
    # endpoint of every non-self-loop edge — plus the self-loop-only
    # vertices it drops.
    if vertices is None:
        dv = (
            sym.select(F.col("dst").alias("id"))
            .unionByName(
                base.select("src", "dst")
                .filter(F.col("src") == F.col("dst"))
                .select(F.col("src").alias("id"))
            )
            .distinct()
        )
    else:
        dv = vertices.select("id")
    if init_labels is not None:
        wl = init_labels.select(F.col("id").alias("wid"), F.col("component").alias("wcomp"))
        state = (
            dv.join(wl, dv["id"] == F.col("wid"), "left")
            .select(
                "id",
                F.coalesce("wcomp", F.col("id")).alias("comp"),
                F.lit(True).alias("changed"),
            )
        )
    else:
        state = dv.select("id", F.col("id").alias("comp"), F.lit(True).alias("changed"))
    start_step = 0
    if ctx is not None:
        # capped at the requested depth: a run dir left by a deeper run
        # must not hand back a deeper iterate than max_iters
        rp = ctx.resume_point_at_most(max_iters)
        if rp is not None:
            start_step, state = rp  # changed flag persisted -> frontier restored
    if start_step == 0:
        state = materialize(state, ctx, 0)
    n_vertices = state.count()
    active = state.filter("changed").count() if start_step else n_vertices

    # gather-aligned edge cache: zero shuffle exchanges per superstep in
    # the broadcast-state regime (superstep.prepare_gather_edges)
    prepared = prepare_gather_edges(sym, n_vertices)
    owned_cache = prepared is not sym
    sym = prepared

    for step in range(start_step + 1, max_iters + 1):
        if active == 0:
            break
        t0 = time.time()
        frontier = with_frontier_hint(state.filter("changed").select("id", "comp"), active)
        msgs = sym.join(frontier, sym["src"] == frontier["id"]).select(sym["dst"], F.col("comp"))
        agg = msgs.groupBy("dst").agg(F.min("comp").alias("new_comp"))
        state = (
            # fan-out guard: the agg can have far more rows than the
            # frontier (hub out-neighborhoods) but never more than |V|
            merge_join(state, agg, state["id"] == agg["dst"], min(active * 64, n_vertices))
            .select(
                "id",
                F.least("comp", F.coalesce("new_comp", F.col("comp"))).alias("comp"),
                (F.coalesce("new_comp", F.col("comp")) < F.col("comp")).alias("changed"),
            )
        )
        state, om = materialize_observed(state, [active_metric()], ctx, step)
        active = int(om["active"] or 0)
        if ctx is not None:
            ctx.commit(step, active=active, delta=None, wall_s=time.time() - t0, lineage=ctx.lineage_of(state))

    if owned_cache:
        sym.unpersist()
    return state.select("id", F.col("comp").alias("component"))
