"""Connected components by hash-min label propagation (WCC), and the
MIN-frontier superstep loop it shares with bfs, sssp, scc, bowtie and
dag.

``min_frontier_loop`` is the TARGET-engine loop
(fogsrc/fog_engine.cpp:159-209): only changed vertices scatter, the
gather is MIN, improved vertices re-activate, and the run stops when
the frontier empties. It owns resume, the step-0 cut, the |V| and
active counts, the frontier broadcast hint, the fan-out-guarded merge,
the active count observed on the cut itself (one Spark job per
superstep) and the commit. cc, bfs (and its multi-root
``reachable_set``), sssp, scc's forward pass and dag's longest-path
levels supply only their vertex programs: the initial state, the
scatter message and, for sssp, the merge.

WCC reference semantics (SURVEY §2.8, application/cc.hpp:36-133):
labels start as own id; rounds alternate a forward pass over out-edges
and a backward pass over in-edges with a MIN gather; improved vertices
re-activate; fixed point = min vertex id of the weakly-connected
component. One pass per round over the SYMMETRIZED edge table converges
to the identical labels (and is how a distributed engine should do it —
no second reverse-CSR copy, reference convert/process_in_edge.cpp made
one on disk).
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, functions as F

# The loop lives here, not in engine/: perfbench/tracing.py finds
# supersteps by wrapping these names on this module (the other
# MIN-frontier programs import the loop from here).
from fog_spark.engine.superstep import (
    active_metric,
    materialize,
    materialize_observed,
    merge_join,
    prepare_gather_edges,
    symmetrize,
    with_frontier_hint,
)


def min_frontier_loop(
    edges: DataFrame,
    state: DataFrame,
    value: str,
    msg: Column,
    ctx,
    max_iters: int,
    active0: int | None = None,
    merge: list[Column] | None = None,
) -> DataFrame:
    """Run a MIN-gather frontier program to its fixed point (or
    ``max_iters``) and return the final state.

    ``state`` is the fresh initial state: ``id``, ``value``, a
    ``changed`` flag marking the frontier, and any column ``merge``
    keeps; ``active0`` is its frontier size (None: every vertex). A
    ``ctx`` resume point, capped at ``max_iters``, replaces it — the
    persisted ``changed`` flag restores the frontier. Each superstep
    scatters ``msg`` (over edges ⨝ frontier(id, value)) along ``edges``,
    MIN-gathers it per dst into ``cand`` and selects ``id, *merge`` over
    state ⟕ gather. The default merge keeps least(value, cand) and
    re-activates the vertices it lowered.
    """
    start = 0
    if ctx is not None:
        rp = ctx.resume_point_at_most(max_iters)
        if rp is not None:
            start, state = rp
    if start == 0:
        state = materialize(state, ctx, 0)
    n = state.count()
    if start:
        active = state.filter("changed").count()
    else:
        active = n if active0 is None else active0
    if merge is None:
        cand = F.coalesce("cand", F.col(value))
        merge = [F.least(value, cand).alias(value), (cand < F.col(value)).alias("changed")]

    # gather-aligned edge cache: zero shuffle exchanges per superstep in
    # the broadcast-state regime (superstep.prepare_gather_edges)
    prepared = prepare_gather_edges(edges, n)
    for step in range(start + 1, max_iters + 1):
        if active == 0:
            break
        t0 = time.time()
        frontier = with_frontier_hint(state.filter("changed").select("id", value), active)
        msgs = prepared.join(frontier, prepared["src"] == frontier["id"]).select(
            prepared["dst"], msg.alias("cand")
        )
        agg = msgs.groupBy("dst").agg(F.min("cand").alias("cand"))
        # fan-out guard: the agg can have far more rows than the
        # frontier (hub out-neighborhoods) but never more than |V|
        state = merge_join(state, agg, state["id"] == agg["dst"], min(active * 64, n)).select("id", *merge)
        state, om = materialize_observed(state, [active_metric()], ctx, step)
        active = int(om["active"] or 0)
        if ctx is not None:
            ctx.commit(step, active=active, delta=None, wall_s=time.time() - t0, lineage=ctx.lineage_of(state))

    if prepared is not edges:
        prepared.unpersist()
    return state


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
    return min_frontier_loop(sym, state, "comp", F.col("comp"), ctx, max_iters).select(
        "id", F.col("comp").alias("component")
    )
