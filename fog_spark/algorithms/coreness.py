"""Full core decomposition (coreness numbers) by h-index iteration.

``kcore.k_core`` answers one shell (the k-core for a GIVEN k); this
computes every vertex's coreness — the largest k whose k-core contains
it — in one run, using the distributed locality result of Montresor,
De Pellegrini & Miorandi 2011 ("Distributed k-core decomposition"):

    c_0(v)   = deg(v)
    c_t+1(v) = H({c_t(u) : u in N(v)})

where H is the h-index (largest h such that at least h neighbors have
value >= h). c_t decreases monotonically to the exact coreness: H of a
neighbor multiset never exceeds |N(v)| = c_0, and H is monotone in its
inputs, so pointwise decrease propagates by induction.

A GLOBAL-mode program (``pagerank._power_iterate``) on the engine's one
loop, ``superstep.run_supersteps``: the state carries c as ``rank``,
every vertex scatters it over the symmetrized edges, and the gather is
the h-index as max(least(value, row_number)) over each vertex's
neighbor values in descending order — a window partitioned by the
gather vertex, so it shards exactly like every other gather here. The
program owns the gather-aligned edge cache, the broadcast state and
the merge; the loop owns resume, the step-0 cut, the commit and the
stop. The fixed-round form (``rounds=m``) is what the unrolled SQL
oracle replays; ``rounds=None`` is done at the first round that
changes no value (``tol=1`` on integer values), so a rerun on that run
dir returns its snapshot at once, and is pytest-oracled against the
Batagelj-Zaversnik peel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from fog_spark.algorithms.pagerank import _power_iterate
from fog_spark.engine.superstep import symmetrize, vertices_of


def _h_index(msgs: DataFrame) -> DataFrame:
    """(dst, incoming): the largest h such that at least h neighbor
    values are >= h."""
    rn = F.row_number().over(Window.partitionBy("dst").orderBy(F.col("msg").desc()))
    return (
        msgs.withColumn("rn", rn)
        .groupBy("dst")
        .agg(F.max(F.least(F.col("msg"), F.col("rn"))).cast("long").alias("incoming"))
    )


def coreness(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    rounds: int | None = None,
    max_iters: int = 10_000,
    ctx=None,
) -> DataFrame:
    """(id, coreness): every vertex's core number. ``rounds=m`` runs
    exactly m h-index refinements (fixed-depth oracle form — values are
    then an upper bound, exact once converged); ``rounds=None`` runs to
    the fixed point (exact coreness). ctx-resumable per round."""
    cap, tol = (max_iters, 1) if rounds is None else (rounds, None)
    sym = symmetrize(edges).distinct().persist()

    def init():
        vs = vertices if vertices is not None else vertices_of(edges)
        deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("c"))
        return vs.join(deg, "id", "left").select("id", F.coalesce("c", F.lit(0)).cast("long").alias("rank"))

    try:
        c, _ = _power_iterate(
            sym, init, cap, ctx,
            msg=F.col("rank"),
            rank=lambda n, _: F.coalesce("incoming", F.lit(0)),
            carry=(),
            tol=tol,
            gather=_h_index,
        )
        return c.select("id", F.col("rank").alias("coreness"))
    finally:
        sym.unpersist()
