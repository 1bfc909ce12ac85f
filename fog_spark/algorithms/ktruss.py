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
job as an observed metric. Each round is one superstep of
``engine/superstep.run_supersteps``, which owns resume, the step-0 cut
of the canonical edges and the commit, so a killed peel continues
mid-decomposition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.triangles import _undirected, edge_support
from fog_spark.engine.superstep import materialize_counted, run_supersteps


def k_truss(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    ctx=None,
) -> DataFrame:
    """(a, b): the canonical edges of the k-truss of ``edges``.

    ``rounds=None`` peels to the fixed point; ``rounds=m`` runs at most
    m peels (the convergence-independent form fixed-depth SQL oracles
    replay; a peel past the fixed point changes nothing). ``ctx``:
    per-round surviving-edge snapshots, resumable; a converged run dir
    returns without a round.
    """
    if k < 2:
        raise ValueError("k-truss needs k >= 2")
    n_alive = None  # |edges| entering the round

    def peel(und, m, n):
        nonlocal n_alive
        keep = (
            und.join(edge_support(und), ["a", "b"], "left")
            .filter(F.coalesce("sup", F.lit(0)) >= k - 2)
            .select("a", "b")
        )
        keep, n_keep = materialize_counted(keep, ctx, m)
        done = n_keep in (n_alive or n, 0)  # nothing dropped / all gone
        n_alive = n_keep
        return keep, n_keep, None, done

    return run_supersteps(lambda: _undirected(edges), ctx, rounds, peel)[0].select("a", "b")
