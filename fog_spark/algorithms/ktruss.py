"""k-truss decomposition by support peeling.

The k-truss (Cohen 2008, "Trusses: cohesive subgraphs for social
network analysis") is the maximal subgraph in which every edge closes
at least k-2 triangles WITHIN the subgraph — the edge-centric
sharpening of the k-core (kcore.py), and like triangles/MSF an operator
the reference never shipped (its TODO.list stops at SCC/triangles/MSF).

Peeling formulation, one superstep per round:

1. support: ``triangles.edge_support`` over the current subgraph — the
   library's degree-ordered triangle stream (hub out-degrees bounded by
   ~sqrt(m); broadcast closed wedges below
   ``TRIANGLE_BROADCAST_MAX_EDGES``, the exchange plan above it), each
   triangle folded onto its three (a < b) edges;
2. peel: drop every edge with support < k-2;
3. repeat until no edge drops (or exactly ``rounds`` rounds for the
   fixed-depth oracle form).

Orientation is re-derived each round from the surviving edges (degrees
change as edges drop); the surviving-edge count rides the materialize
job as an observed metric, and rounds checkpoint/resume through the
same RunContext seam as k_core (a killed peel continues mid-
decomposition).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.triangles import _undirected, edge_support
from fog_spark.engine.superstep import materialize_observed


def k_truss(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    ctx=None,
) -> DataFrame:
    """(a, b): the canonical edges of the k-truss of ``edges``.

    ``rounds=None`` peels to the fixed point; ``rounds=m`` runs exactly
    m peels (the convergence-independent form fixed-depth SQL oracles
    replay). ``ctx``: per-round surviving-edge snapshots, resumable.
    """
    if k < 2:
        raise ValueError("k-truss needs k >= 2")
    und = _undirected(edges)

    m = 0
    n_alive: int | None = None
    if ctx is not None:
        rp = ctx.resume_point() if rounds is None else ctx.resume_point_at_most(rounds)
        if rp is not None:
            m, state = rp
            if rounds is not None and m >= rounds:
                return state.select("a", "b")
            und = state.select("a", "b")
            if rounds is None:
                n_alive = und.count()
    while True:
        t0 = time.time()
        sup = edge_support(und)
        keep = (
            und.join(sup, ["a", "b"], "left")
            .filter(F.coalesce("sup", F.lit(0)) >= k - 2)
            .select("a", "b")
        )
        keep, om = materialize_observed(keep, [F.count(F.lit(1)).alias("n")], ctx, m + 1)
        n_keep = int(om["n"] or 0)
        m += 1
        if ctx is not None:
            ctx.commit(m, active=n_keep, delta=None, wall_s=time.time() - t0,
                       lineage=ctx.lineage_of(keep))
        if rounds is not None:
            done = m >= rounds
        else:
            if n_alive is None:
                n_alive = und.count()
            done = n_keep == n_alive or n_keep == 0
        und, n_alive = keep, n_keep
        if done:
            return und.select("a", "b")
