"""Community quality + Louvain-style local moves.

Extends the LPA surface (SURVEY §2.8; reference fog_engine.cpp has no
community ops beyond what its gather folds express) with the two pieces
a link-graph user asks for next:

- ``modularity``: Newman modularity Q of a labeling, computed from
  EXACT integer sums (the only float is the final closed-form
  division), so an external SQL oracle matches at 6dp.
- ``louvain_local_move``: synchronous Louvain local-move rounds from a
  singleton start — every vertex simultaneously picks the neighboring
  community with the best modularity gain, deterministic under the
  total order (-gain, community). Synchronous + deterministic makes
  the dynamics exactly replayable by an unrolled SQL oracle (classic
  sequential Louvain is order-dependent and cannot be oracled).

Both operate on an edge table that is already SYMMETRIC and simple
(both orientations present, no self-loops, no duplicates) — the
canonical form of the co-occurrence link graph. |edges| = 2m.

Scale shape: modularity is two keyed joins + two aggregations; a move
round is two keyed joins + one (vertex, community) count + one keyed
argmin — everything bucketed by vertex or community id, nothing
all-pairs. Gain comparison uses m2*k2 products that stay inside a
64-bit long up to ~10^12 edges x 10^6-degree hubs; beyond that the
gain column should be lifted to decimal(38,0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import materialize, maybe_broadcast


def _degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("k"))


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One-row frame: n_communities, n_undirected_edges, intra_edges,
    modularity_r.

    Q = sum_c [ intra2_c/m2 - (d_c/m2)^2 ]
      = (m2 * intra2_total - sum_c d_c^2) / m2^2

    with m2 = |sym edges|, intra2_c = directed intra-community edge
    count, d_c = total degree of community c — all exact integers until
    the final division (same trick as graph_stats' assortativity).
    ``labels``: (id, label) covering every vertex.
    """
    lab_src = labels.select(F.col("id").alias("src"), F.col("label").alias("la"))
    lab_dst = labels.select(F.col("id").alias("dst"), F.col("label").alias("lb"))
    intra = (
        edges.join(lab_src, "src")
        .join(lab_dst, "dst")
        .agg(
            F.count(F.lit(1)).alias("m2"),
            F.sum((F.col("la") == F.col("lb")).cast("long")).alias("intra2"),
        )
    )
    per_comm = (
        _degrees(edges)
        .join(labels, "id")
        .groupBy("label")
        .agg(F.sum("k").alias("dc"))
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum(F.col("dc") * F.col("dc")).alias("sum_dc2"),
        )
    )
    return intra.crossJoin(per_comm).select(
        "n_communities",
        (F.col("m2") / 2).cast("long").alias("n_undirected_edges"),
        (F.col("intra2") / 2).cast("long").alias("intra_edges"),
        F.round(
            (F.col("m2") * F.col("intra2") - F.col("sum_dc2"))
            / (F.col("m2") * F.col("m2")),
            6,
        ).alias("modularity_r"),
    )


def louvain_local_move(edges: DataFrame, rounds: int = 1) -> DataFrame:
    """(id, label) after ``rounds`` synchronous local-move rounds from a
    singleton start (every vertex its own community).

    Per round, with current labels a(v) and community degree totals
    d_c = sum_{u in c} k_u, every vertex v scores each candidate
    community c in {neighbor communities} u {a(v)}:

        gain2(c) = m2 * k2(v,c) - k_v * (d_c - [c = a(v)] * k_v)

    which is the standard Louvain gain of placing v (removed from its
    own community) into c, scaled by the positive constant 2m^2 —
    argmax is unchanged, arithmetic stays integer. k2(v,c) = directed
    edges from v into c (self-loop-free, so v's own mass never counts).
    The pick is min over struct(-gain2, c): best gain, smallest label
    on ties — a total order, so the round is deterministic and an
    unrolled SQL oracle replays it exactly. All vertices move
    simultaneously (Jaccard-of-neighbors oscillation is possible but
    deterministic; fixed ``rounds`` is the contract, like LPA).
    """
    return louvain_local_move_weighted(
        edges.select("src", "dst", F.lit(1).cast("long").alias("w")),
        rounds=rounds,
    )


def louvain_local_move_weighted(
    edges: DataFrame, rounds: int = 1, alternate: bool = False
) -> DataFrame:
    """The move loop over a WEIGHTED symmetric multigraph (src, dst, w
    long), self-loops allowed — the form a contracted super-graph takes
    (self-loop weight = 2x intra-community edges of the level below).

    Same integer gain as the unweighted form with every count replaced
    by a weight sum; a vertex's self-loop weight rides along when it
    moves, contributing equally to every candidate, so it is excluded
    from k2 and the argmax is unchanged — the standard Louvain
    phase-2 treatment (Blondel et al. 2008, §2).

    ``alternate=True`` restricts candidate communities to labels <= the
    vertex's current label on odd rounds and >= on even rounds (own
    community always allowed). Two symmetric vertices that each prefer
    the other's community would otherwise SWAP labels every synchronous
    round and never merge; under the alternating restriction only one
    side may move, so the pair merges — the deterministic
    oscillation-breaker used by distributed Louvain implementations
    (e.g. Sotera's Spark/Giraph DGA). Any move legal for the
    unrestricted rule is legal in one of two consecutive rounds.
    """
    deg = materialize(
        edges.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("k"))
    )
    m2 = edges.agg(F.sum("w")).collect()[0][0]
    state = deg.select("id", F.col("id").alias("label"))

    for r in range(1, rounds + 1):
        dc = state.join(deg, "id").groupBy("label").agg(F.sum("k").alias("dc"))
        lab_dst = state.select(F.col("id").alias("dst"), F.col("label").alias("c"))
        # k2(v, c): weighted edges from v into community c, self excluded
        k2 = (
            edges.where(F.col("src") != F.col("dst"))
            .join(lab_dst, "dst")
            .groupBy(F.col("src").alias("id"), "c")
            .agg(F.sum("w").alias("k2"))
        )
        # candidate set = neighbor communities ∪ the current community
        # (k2=0 when v has no neighbor inside its own community)
        cand = (
            k2.unionByName(
                state.select("id", F.col("label").alias("c"), F.lit(0).cast("long").alias("k2"))
            )
            .groupBy("id", "c")
            .agg(F.max("k2").alias("k2"))
        )
        scored = (
            cand.join(maybe_broadcast(dc.select(F.col("label").alias("c"), "dc"), m2), "c")
            .join(deg, "id")
            .join(state, "id")
        )
        if alternate:
            gate = (
                (F.col("c") <= F.col("label"))
                if r % 2 == 1
                else (F.col("c") >= F.col("label"))
            )
            scored = scored.where(gate | (F.col("c") == F.col("label")))
        scored = (
            scored.select(
                "id",
                "c",
                (
                    F.lit(m2) * F.col("k2")
                    - F.col("k")
                    * (F.col("dc") - F.when(F.col("c") == F.col("label"), F.col("k")).otherwise(F.lit(0)))
                ).alias("gain2"),
            )
        )
        state = (
            scored.groupBy("id")
            .agg(F.min(F.struct((-F.col("gain2")).alias("g"), F.col("c").alias("c"))).alias("b"))
            .select("id", F.col("b.c").alias("label"))
        )
        state = materialize(state)
    return state.select("id", "label")


def contract_graph(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Louvain phase 2: collapse each community to a super-vertex.

    ``edges``: weighted symmetric (src, dst, w); ``labels``: (id,
    label). Returns (src, dst, w) over community ids — the (c, c)
    self-loop row accumulates BOTH orientations of every intra edge,
    i.e. w = 2x the undirected intra count, exactly the self-loop
    weight phase 2 requires. One join pair + one keyed aggregation.
    """
    la = labels.select(F.col("id").alias("src"), F.col("label").alias("la"))
    lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("lb"))
    return (
        edges.join(la, "src")
        .join(lb, "dst")
        .groupBy(F.col("la").alias("src"), F.col("lb").alias("dst"))
        .agg(F.sum("w").alias("w"))
    )


def louvain_levels(
    edges: DataFrame, move_rounds: int = 2, levels: int = 2
) -> DataFrame:
    """Full Louvain: local-move rounds, contract, repeat ``levels``
    times; (id, label) maps every ORIGINAL vertex to its top-level
    community. Deterministic end to end (each move round is the
    synchronous argmax above, with ``alternate=True`` breaking
    label-swap oscillation), so a chained SQL oracle replays the whole
    hierarchy. ``edges``: simple symmetric (src, dst[, ...]).

    Scale shape: each level's graph is no larger than the previous
    (contraction only merges), so cost is dominated by level 1 —
    move_rounds x (two keyed joins + two aggs) over |E|, plus one
    contraction agg per level.
    """
    cur = edges.select("src", "dst", F.lit(1).cast("long").alias("w"))
    total = None
    for lvl in range(1, levels + 1):
        lab = louvain_local_move_weighted(cur, rounds=move_rounds, alternate=True)
        if total is None:
            total = lab
        else:
            up = lab.select(F.col("id").alias("label"), F.col("label").alias("l2"))
            total = total.join(up, "label").select("id", F.col("l2").alias("label"))
        total = materialize(total)
        if lvl < levels:
            cur = materialize(contract_graph(cur, lab))
    return total
