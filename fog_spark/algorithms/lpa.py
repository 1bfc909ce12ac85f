"""Synchronous label propagation (LPA).

Not in FOG (its TODO lists community detection as future work,
TODO.list); defined per SURVEY §2.8 in FOG's vertex-centric vocabulary:
scatter own label along the symmetrized edge table; gather = mode of
neighbor labels with ties broken toward the smallest label; synchronous
rounds; stop at fixed point or max_iters (synchronous LPA can 2-cycle
on bipartite structures, so a cap is part of the semantics).

The mode gather is two aggregations — groupBy(dst, label).count() then
argmax per dst — both map-side combinable. The argmax-with-tiebreak is
one MIN over struct(-count, label): lexicographic struct ordering gives
"highest count, then smallest label" with no window function and no
second shuffle (the second groupBy reuses the first's hash partitioning
on dst prefix via AQE).

The changed count is observed on the materialize job (one Spark job
per superstep).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import (
    active_metric,
    materialize,
    materialize_observed,
    maybe_broadcast,
    merge_join,
    prepare_gather_edges,
    symmetrize,
)


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 20,
    ctx=None,
) -> DataFrame:
    """Returns (id, label). Isolated vertices keep their own id."""
    # mode counts must not double-count duplicate (src,dst) pairs.
    # The distinct is a full shuffle — cache it so the vertex set and
    # the aligned re-partition below read it once, not recompute it each.
    sym0 = symmetrize(edges).distinct().persist()

    # default vertex set from ONE aggregate over the cached sym0 plus the
    # self-loop-only vertices symmetrize drops
    if vertices is None:
        state = (
            sym0.select(F.col("dst").alias("id"))
            .unionByName(
                edges.select("src", "dst")
                .filter(F.col("src") == F.col("dst"))
                .select(F.col("src").alias("id"))
            )
            .distinct()
            .select("id", F.col("id").alias("label"))
        )
    else:
        state = vertices.select("id", F.col("id").alias("label"))
    start_step = 0
    if ctx is not None:
        rp = ctx.resume_point_at_most(max_iters)
        if rp is not None:
            start_step, state = rp
            state = state.select("id", "label")
            last = ctx.last_committed() or {}
            if last.get("active") == 0:  # already at fixed point
                sym0.unpersist()
                return state
    if start_step == 0:
        state = materialize(state, ctx, 0)
    n = state.count()

    # gather-aligned cache: with broadcast state both mode aggregations
    # reuse hash(dst) — zero exchanges per superstep (see
    # superstep.prepare_gather_edges; the LPA composite (dst,label) key
    # shuffles near-|E| partials otherwise, the worst case of the folds)
    sym = prepare_gather_edges(sym0, n)
    if sym is not sym0:  # new aligned cache: materialize it off sym0's
        sym.count()
        sym0.unpersist()
    # else (big state): the loop keeps reading through sym0's cache

    for step in range(start_step + 1, max_iters + 1):
        t0 = time.time()
        st = maybe_broadcast(state, n)
        msgs = sym.join(st, sym["src"] == st["id"]).select(sym["dst"], F.col("label"))
        counts = msgs.groupBy("dst", "label").agg(F.count(F.lit(1)).alias("cnt"))
        best = counts.groupBy("dst").agg(
            F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("label").alias("lbl"))).alias("b")
        ).select("dst", F.col("b.lbl").alias("new_label"))
        state = (
            merge_join(state, best, state["id"] == best["dst"], n)
            .select(
                "id",
                F.coalesce("new_label", F.col("label")).alias("label"),
                (F.coalesce("new_label", F.col("label")) != F.col("label")).alias("changed"),
            )
        )
        state, om = materialize_observed(state, [active_metric()], ctx, step)
        changed = int(om["active"] or 0)
        state = state.select("id", "label")
        if ctx is not None:
            ctx.commit(step, active=changed, delta=None, wall_s=time.time() - t0, lineage=ctx.lineage_of(state))
        if changed == 0:
            break

    sym.unpersist()
    sym0.unpersist()  # no-op when already dropped above
    return state.select("id", "label")
