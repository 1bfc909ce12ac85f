"""SALSA (Lempel & Moran 2000) — stochastic hubs & authorities.

The link-analysis twin of HITS (algorithms/hits.py) where each update
is a RANDOM-WALK step instead of a raw adjacency sum: the authority
chain moves backward along a uniformly chosen in-link, then forward
along a uniformly chosen out-link,

    h_k(j) = Σ_{(j,i)∈E} a_{k-1}(i) / indeg(i)
    a_k(i) = Σ_{(j,i)∈E} h_k(j)     / outdeg(j)

Because both updates are column-stochastic, total mass is conserved —
no norm scalar is needed between passes, so unlike HITS the loop runs
with ZERO driver-side aggregations: two scatter joins + two keyed
aggregations per iteration, one materialize (plan cut) per iteration,
and the Σa≈1 invariant rides that job as an observed metric. The
degree normalizations are attached to the edge table ONCE, by the first
superstep (the same pre-attachment as weighted PageRank's w/wsum). One
iteration is one superstep of ``engine/superstep.run_supersteps``,
which owns resume, |V| and the commit; the initial state and the edge
tables are built only when a run needs them, so a rerun on a finished
run dir returns its snapshot without a preamble.

Not in FOG (its apps stop at the PageRank family, fogsrc/main.cpp:
51-135); SALSA is the standard web-graph companion the reference's
own roadmap never reached.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import (
    materialize_observed,
    maybe_broadcast,
    run_supersteps,
    vertices_of,
)


def salsa(
    edges: DataFrame,
    niters: int = 10,
    ctx=None,
) -> DataFrame:
    """(id, authority, hub) after ``niters`` backward/forward rounds on
    the simple (deduplicated) directed graph. Authority mass starts
    uniform over vertices with indeg > 0 and stays summed to 1; hub
    mass likewise over outdeg > 0 vertices. Vertices outside either
    side report 0.0 for that score."""
    @functools.cache
    def simple():
        """(e, ind): the simple edge table, cut once, and its in-degrees."""
        e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
        return e, e.groupBy("dst").agg(F.count(F.lit(1)).alias("ind"))

    def init():
        e, ind = simple()
        auth0 = ind.select(F.col("dst").alias("id"), F.lit(1.0 / max(ind.count(), 1)).alias("authority"))
        return vertices_of(e).join(auth0, "id", "left").select(
            "id", F.coalesce("authority", F.lit(0.0)).alias("authority"), F.lit(0.0).alias("hub")
        )

    eb = ef = None  # the degree-weighted edges, built by the first superstep

    def iterate(state, it, n):
        nonlocal eb, ef
        if eb is None:
            e, ind = simple()
            od = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
            # normalizations ride the edges once — the loop never recomputes
            # them. The degree side is broadcast by hint: planned by AQE
            # instead, the joined edges came out in a different order from
            # run to run, and with them the float sums of every superstep,
            # so a resumed run could differ from a clean one in the last bits
            eb = (
                e.join(maybe_broadcast(ind, n), "dst")
                .select("src", "dst", (F.lit(1.0) / F.col("ind")).alias("wb"))
                .localCheckpoint(eager=False)
            )
            ef = (
                e.join(maybe_broadcast(od, n), "src")
                .select("src", "dst", (F.lit(1.0) / F.col("od")).alias("wf"))
                .localCheckpoint(eager=False)
            )
        st = maybe_broadcast(state, n)
        # backward pass: authority mass -> hubs, 1/indeg per in-link
        hmsg = eb.join(st, eb["dst"] == st["id"]).select(
            eb["src"].alias("hid"), (F.col("authority") * F.col("wb")).alias("m")
        )
        agg_h = hmsg.groupBy("hid").agg(F.sum("m").alias("h"))
        # forward pass: hub mass -> authorities, 1/outdeg per out-link
        amsg = ef.join(maybe_broadcast(agg_h, n), ef["src"] == F.col("hid")).select(
            ef["dst"].alias("aid"), (F.col("h") * F.col("wf")).alias("m")
        )
        agg_a = amsg.groupBy("aid").agg(F.sum("m").alias("a"))
        nxt = (
            state.select("id")
            .join(maybe_broadcast(agg_a, n), state["id"] == F.col("aid"), "left")
            .join(maybe_broadcast(agg_h, n), state["id"] == F.col("hid"), "left")
            .select(
                "id",
                F.coalesce("a", F.lit(0.0)).alias("authority"),
                F.coalesce("h", F.lit(0.0)).alias("hub"),
            )
        )
        state, om = materialize_observed(
            nxt, [F.sum("authority").alias("mass")], ctx, it
        )
        return state, n, float(om["mass"] or 0.0), False

    return run_supersteps(init, ctx, niters, iterate)[0].select("id", "authority", "hub")
