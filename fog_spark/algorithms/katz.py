"""Katz centrality by truncated power iteration.

    x_{k+1} = alpha * A^T x_k + beta * 1,   x_0 = 0

(Katz, Psychometrika 1953) — after k rounds x(v) = beta * sum over
paths of length < k into v of alpha^len, the attenuated-path centrality
the PageRank family (algorithms/pagerank.py) replaces with degree
normalization. Convergence needs alpha < 1/lambda_max; callers pick a
conservative alpha (default 0.1) or a fixed depth.

Scale shape is exactly PageRank's — it is a GLOBAL-mode program
(``pagerank._power_iterate``) on the engine's one loop,
``superstep.run_supersteps``: one scatter join + one (dst, sum) gather +
one cut per round, no normalization scalar. The state (and a ``ctx``
snapshot) carries x as ``rank``.

Not in FOG (its apps stop at PageRank/SpMV, fogsrc/main.cpp:51-135);
Katz completes the centrality family next to HITS/SALSA/betweenness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.pagerank import _power_iterate
from fog_spark.engine.superstep import vertices_of


def katz(
    edges: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    niters: int = 5,
    ctx=None,
) -> DataFrame:
    """(id, katz) after ``niters`` rounds on the simple directed graph
    (duplicate edges are collapsed; self-loops kept, as in the
    reference's GLOBAL-mode semantics, SURVEY §2.2 F2)."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    # x_{k+1} = alpha * (sum of in-neighbor x_k) + beta
    x, _ = _power_iterate(
        e, lambda: vertices_of(e).select("id", F.lit(0.0).alias("rank")), niters, ctx,
        msg=F.col("rank"),
        rank=lambda n, _: alpha * F.coalesce("incoming", F.lit(0.0)) + beta,
        carry=(),
    )
    return x.select("id", F.col("rank").alias("katz"))
