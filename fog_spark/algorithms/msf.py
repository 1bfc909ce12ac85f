"""Minimum spanning forest — Borůvka supersteps.

Closes the reference's own future-work list (reference TODO.list:17-18
names "SCC, Triangle counting, MSF"; SCC and triangles shipped in
earlier rounds). Borůvka is the natural superstep formulation of MSF:

    round: every component picks its MINIMUM outgoing edge (the A4-style
           min-by fold, one scatter + one keyed aggregation), the picked
           edges join the forest, and touching components merge.

Components at least halve per round, so rounds = O(log |V|) regardless
of graph shape — the right bound at 10^12-edge scale. Each round costs
two hash joins of the edge table against the (small) component map plus
one aggregation; the merge step runs on the PICKS only (exactly one per
component that still has an outgoing edge), contracted by pointer
jumping in O(log depth) tiny self-joins — NOT hash-min propagation,
whose round count is the chain DIAMETER (a path graph's Borůvka picks
form one long chain: hash-min would need |V| rounds where jumping
needs log |V|).

Determinism: edges are canonicalized to (a < b, w = min weight over
either orientation and parallel duplicates) and every minimum is taken
over the struct (w, a, b) — a total order, no ties — so the forest is
unique and an external SQL oracle can replay it exactly.

Pointer-graph shape (why jumping terminates): parent[c] = the other
endpoint of c's OWN pick. Under a total edge order the pick values are
non-increasing along any pointer path, so every cycle has length
exactly 2 (two components mutually picking the same edge); resolving
each 2-cycle to its smaller endpoint leaves rooted trees. (Taking
"min partner over all picked edges touching c" instead is WRONG — a
bridge edge both of whose endpoints have smaller-id partners elsewhere
would vanish from the pointer graph and split a component.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import (
    materialize,
    materialize_observed,
    maybe_broadcast,
    run_supersteps,
    vertices_of,
)


def canonical_edges(edges: DataFrame, weight_col: str = "weight") -> DataFrame:
    """(a, b, w): undirected canonical form — a < b, self-loops dropped,
    parallel edges / reverse orientations collapsed to the MIN weight."""
    e = edges.filter(F.col("src") != F.col("dst"))
    return (
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col(weight_col).alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )


def _contract(per_pick: DataFrame) -> DataFrame:
    """(comp, new_comp) relabel map from the per-component picks
    (columns c, e=(w, a, b, ca, cb))."""
    parent = per_pick.select(
        "c",
        F.when(F.col("e.ca") == F.col("c"), F.col("e.cb"))
        .otherwise(F.col("e.ca"))
        .alias("p"),
    )
    # 2-cycle resolution: c and p point at each other -> smaller is root
    pp = parent.select(F.col("c").alias("c2"), F.col("p").alias("p2"))
    parent = (
        parent.join(pp, parent["p"] == pp["c2"], "left")
        .select(
            "c",
            F.when(
                (F.col("p2") == F.col("c")) & (F.col("c") < F.col("p")), F.col("c")
            ).otherwise(F.col("p")).alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    # pointer jumping: p <- parent[p] until nothing moves
    while True:
        pj = parent.select(F.col("c").alias("jc"), F.col("p").alias("jp"))
        jumped = parent.join(pj, parent["p"] == pj["jc"], "left").select(
            "c",
            F.coalesce("jp", "p").alias("np"),
            (F.coalesce("jp", "p") != F.col("p")).alias("moved"),
        )
        jumped, om = materialize_observed(
            jumped, [F.sum(F.col("moved").cast("long")).alias("moved")]
        )
        parent = jumped.select("c", F.col("np").alias("p"))
        if int(om["moved"] or 0) == 0:
            return parent.select(F.col("c").alias("comp"), F.col("p").alias("new_comp"))


def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str = "weight",
    rounds: int | None = None,
    ctx=None,
) -> DataFrame:
    """The MSF edge set (a, b, w) — Borůvka to fixed point, or at most
    ``rounds`` rounds for fixed-depth oracle replay (converged rounds
    are no-ops, so any rounds >= the convergence count yields the MSF).

    One Borůvka round is one superstep of
    ``engine/superstep.run_supersteps``, which owns resume and the
    commit: per round the component map is the ``state`` snapshot and
    the round's picked forest edges are a ``forest`` snapshot, so a
    killed run resumes mid-forest and returns the COMPLETE forest (every
    committed round's picks are read back from the run dir). A round
    with nothing left to pick is done.
    """
    ecan = canonical_edges(edges, weight_col).persist()
    forest: list[DataFrame] = []

    def boruvka(comp, r, n):
        cm = maybe_broadcast(comp, n)
        ca = cm.select(F.col("id").alias("a"), F.col("comp").alias("ca"))
        cb = cm.select(F.col("id").alias("b"), F.col("comp").alias("cb"))
        cross = ecan.join(ca, "a").join(cb, "b").where(F.col("ca") != F.col("cb"))
        # every cross edge offers itself to BOTH sides; per-component
        # min over struct (w, a, b) = the deterministic Borůvka pick
        offer = F.struct("w", "a", "b", "ca", "cb").alias("e")
        msgs = cross.select(F.col("ca").alias("c"), offer).unionByName(
            cross.select(F.col("cb").alias("c"), offer)
        )
        per_pick = msgs.groupBy("c").agg(F.min("e").alias("e")).localCheckpoint(eager=True)
        if per_pick.isEmpty():
            # converged: with a ctx the final map is cut at r as well, so
            # a rerun finds this round's done record and picks nothing
            return (comp if ctx is None else materialize(comp, ctx, r)), -1, None, True
        picked = per_pick.select("e.w", "e.a", "e.b").distinct().select("a", "b", "w")
        if ctx is None:
            forest.append(picked)
        else:
            ctx.write_state(picked, r, name="forest")
        relab = _contract(per_pick)
        comp = comp.join(maybe_broadcast(relab, n), "comp", "left").select(
            "id", F.coalesce("new_comp", "comp").alias("comp")
        )
        return materialize(comp, ctx, r), -1, None, False

    comp = vertices_of(edges).select("id", F.col("id").alias("comp"))
    try:
        run_supersteps(lambda: comp, ctx, rounds, boruvka)
    finally:
        # the forest reads only the per-round pick cuts (or the run dir)
        ecan.unpersist()
    if ctx is not None:
        # rounds past the requested depth belong to a deeper earlier run
        forest = [
            ctx.read_state(s, name="forest")
            for s in ctx.fmt.list_partitions("forest")
            if rounds is None or s <= rounds
        ]
    if not forest:
        return edges.sparkSession.createDataFrame([], "a long, b long, w double")
    out = forest[0]
    for p in forest[1:]:
        out = out.unionByName(p)
    return out
