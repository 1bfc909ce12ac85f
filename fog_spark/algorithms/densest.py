"""Densest subgraph by (1+ε)-greedy peeling (Bahmani et al., VLDB 2012).

Charikar's peel-one-vertex 2-approximation needs |V| sequential rounds;
the MapReduce variant removes EVERY vertex of degree ≤ 2(1+ε)·ρ(S) per
round (ρ = |E(S)|/|S|), finishing in O(log_{1+ε} |V|) rounds with a
2(1+ε) guarantee — the shape that survives a 10^12-edge graph: each
round is one semi-join restriction + one degree aggregation, and the
density scalars ride the round's materialize job as observed metrics.

Determinism across engines: ε is taken as a RATIONAL num/den, so the
peel condition  deg ≤ 2(1+ε)·(s2/2)/nv  is evaluated in exact integer
arithmetic  (den·deg·nv ≤ (den+num)·s2, s2 = Σdeg = 2|E|), and the
best-round argmax compares densities by cross-multiplication — no
float round-off can flip a removal or the reported subgraph, which is
what lets a SQL oracle replay the whole trajectory.

Not in FOG (reference apps: fogsrc/main.cpp:51-135); densest-subgraph
extraction is the standard link-graph community-core primitive one
step past k-core (algorithms/kcore.py), which this module's peel
generalizes from a fixed threshold to a density-adaptive one.
"""

from __future__ import annotations

from dataclasses import dataclass
from fractions import Fraction

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import materialize_observed, symmetrize, vertices_of


@dataclass
class DensestResult:
    """Per-vertex peel trajectory + the best (densest) prefix found."""

    rounds: DataFrame  # (id, removed_round); survivors get max_rounds+1
    best_round: int
    best_density: float
    best_size: int
    best_edges: int


def densest_subgraph(
    edges: DataFrame,
    eps_num: int = 3,
    eps_den: int = 10,
    max_rounds: int | None = None,
) -> DensestResult:
    """Peel the symmetrized simple graph with ε = eps_num/eps_den.

    Round t examines the surviving set S_t (S_1 = all vertices),
    records its density, and removes every vertex whose S_t-degree is
    ≤ 2(1+ε)·ρ(S_t). ε > 0 guarantees at least the minimum-degree
    vertices go each round, so the loop needs ≤ log_{1+ε}|V| rounds;
    ``max_rounds`` caps it for fixed-round (oracle-replayable) runs,
    leaving survivors marked round ``max_rounds + 1`` (that residual
    set is NOT density-examined). The densest examined S_t is reported
    — the classic 2(1+ε) approximation of the maximum density.
    """
    spark = edges.sparkSession
    sym = symmetrize(edges).distinct().localCheckpoint(eager=False)
    alive = vertices_of(sym).localCheckpoint(eager=False)

    # peel iff deg <= 2(1+eps)*rho = (1+eps)*s2/nv  (s2 = Σdeg = 2|E|),
    # i.e. den*deg*nv <= (den+num)*s2 in exact integers
    thr_mul = eps_den
    s2_mul = eps_den + eps_num

    removed = []
    best = None  # (density Fraction, -t) max
    stats = {}
    t = 0
    prev_nv = None
    while True:
        t += 1
        ealive = (
            sym.join(alive.select(F.col("id").alias("src")), "src", "left_semi")
            .join(alive.select(F.col("id").alias("dst")), "dst", "left_semi")
        )
        deg = ealive.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        st = alive.join(deg, "id", "left").select(
            "id", F.coalesce("deg", F.lit(0)).alias("deg")
        )
        st, om = materialize_observed(
            st,
            [F.sum("deg").alias("s2"), F.count(F.lit(1)).alias("nv")],
        )
        s2, nv = int(om["s2"] or 0), int(om["nv"] or 0)
        if nv == 0:
            t -= 1
            break
        if nv == prev_nv:
            # cannot happen with eps > 0 (a min-degree vertex is always
            # <= avg <= (1+eps)*avg); guards the loop against a future
            # threshold regression turning unbounded runs into spins
            raise RuntimeError(f"densest peel made no progress at round {t} (nv={nv})")
        prev_nv = nv
        dens = Fraction(s2, 2 * nv)  # |E|/|V| exactly
        stats[t] = (s2 // 2, nv)
        if best is None or dens > best[0]:
            best = (dens, t)
        # decimal on the deg side: deg·2·den·nv can pass 2^63 on a
        # 10^12-vertex graph; the RHS scalar stays comfortably in long
        lhs = F.col("deg").cast("decimal(38,0)") * F.lit(thr_mul * nv)
        rhs = F.lit(s2_mul * s2)
        removed.append(
            st.filter(lhs <= rhs).select("id", F.lit(t).alias("removed_round"))
        )
        alive = st.filter(lhs > rhs).select("id")
        if max_rounds is not None and t >= max_rounds:
            removed.append(alive.select("id", F.lit(t + 1).alias("removed_round")))
            break

    if not removed:
        empty = spark.createDataFrame([], "id long, removed_round int")
        return DensestResult(empty, 0, 0.0, 0, 0)
    rounds = removed[0]
    for r in removed[1:]:
        rounds = rounds.unionByName(r)
    bt = best[1]
    m, n = stats[bt]
    return DensestResult(rounds, bt, float(best[0]), n, m)
