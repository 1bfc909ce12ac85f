"""Synchronous label propagation (LPA).

Not in FOG (its TODO lists community detection as future work,
TODO.list); defined per SURVEY §2.8 in FOG's vertex-centric vocabulary:
scatter own label along the symmetrized edge table; gather = mode of
neighbor labels with ties broken toward the smallest label; synchronous
rounds; stop at fixed point or max_iters (synchronous LPA can 2-cycle
on bipartite structures, so a cap is part of the semantics).

A vertex program on the GLOBAL-mode loop (``pagerank._power_iterate``):
every vertex scatters every superstep, the state carries the label as
``rank``, and the loop owns resume, the cuts, the commit and the stop
rule. Labels are integers, so ``tol=1`` stops exactly at the first
superstep that changes no label.

The mode gather is two aggregations — groupBy(dst, label).count() then
argmax per dst — both map-side combinable. The argmax-with-tiebreak is
one MIN over struct(-count, label): lexicographic struct ordering gives
"highest count, then smallest label" with no window function and no
second shuffle (the second groupBy reuses the first's hash partitioning
on dst prefix via AQE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.pagerank import _power_iterate, _resume
from fog_spark.engine.superstep import materialize, symmetrize


def _mode(msgs: DataFrame) -> DataFrame:
    """(dst, incoming): the most frequent neighbor label, ties → smallest."""
    counts = msgs.groupBy("dst", "msg").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy("dst").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("msg").alias("lbl"))).alias("b")
    ).select("dst", F.col("b.lbl").alias("incoming"))


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 20,
    ctx=None,
) -> DataFrame:
    """Returns (id, label). Isolated vertices keep their own id."""
    start, state, done = _resume(ctx, max_iters, 1)
    if done:
        return state.select("id", F.col("rank").alias("label"))
    # mode counts must not double-count duplicate (src,dst) pairs.
    # The distinct is a full shuffle — cache it so the vertex set and
    # the loop's aligned re-partition read it once, not recompute it each.
    sym0 = symmetrize(edges).distinct().persist()
    if state is None:
        # default vertex set from ONE aggregate over the cached sym0 plus
        # the self-loop-only vertices symmetrize drops
        if vertices is None:
            vertices = (
                sym0.select(F.col("dst").alias("id"))
                .unionByName(
                    edges.select("src", "dst")
                    .filter(F.col("src") == F.col("dst"))
                    .select(F.col("src").alias("id"))
                )
                .distinct()
            )
        state = materialize(vertices.select("id", F.col("id").alias("rank")), ctx, 0)
    n = state.count()
    labels, _ = _power_iterate(
        sym0, state, n, start, max_iters, ctx,
        msg=F.col("rank"),
        rank=lambda _: F.coalesce("incoming", F.col("rank")),
        carry=(),
        tol=1,
        gather=_mode,
    )
    sym0.unpersist()
    return labels.select("id", F.col("rank").alias("label"))
