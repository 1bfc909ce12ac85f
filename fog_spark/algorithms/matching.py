"""Maximal matching by deterministic edge-priority rounds.

The edge-level twin of Luby MIS (algorithms/mis.py), after Israeli &
Itai (1986): give every undirected edge a unique priority; each round,
an edge joins the matching iff it is the strict priority minimum among
ALL edges incident to either endpoint (a local minimum of the line
graph), then both endpoints leave. The globally minimal alive edge
always wins, so every round makes progress; with hash priorities the
expected round count is O(log m). The result is a maximal matching:
every unmatched edge lost an endpoint to some matched edge.

Priorities hash the CANONICAL pair (min,max) so both directions of an
undirected edge carry the same priority, suffixed with the pair to be
unique — md5 strings, byte-comparable identically in Spark and DuckDB,
so a SQL oracle replays every round's matched set.

Scale shape per round: one (vertex, min incident priority) gather from
each endpoint side (one union + one keyed agg), one join of edges to
both endpoint minima, one materialized alive-edge frame. Edge state
only shrinks.

Not in FOG (reference apps: fogsrc/main.cpp:51-135); matching is the
standard pairing/coarsening primitive next to MIS and coloring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import materialize_observed, symmetrize


def _edge_priority(a, b, salt: int):
    lo, hi = F.least(a, b).cast("string"), F.greatest(a, b).cast("string")
    pair = F.concat(lo, F.lit("~"), hi)
    return F.concat(
        F.md5(F.concat(F.lit(f"mat{salt}:"), pair)),
        F.lit("-"),
        F.lpad(lo, 12, "0"),
        F.lit("~"),
        F.lpad(hi, 12, "0"),
    )


def greedy_matching(
    edges: DataFrame,
    salt: int = 5,
    max_rounds: int | None = None,
) -> DataFrame:
    """(a, b, round) matched pairs (a < b) over the simple undirected
    graph. ``round`` is the round the pair matched; with ``max_rounds``
    the loop stops early (the fixed-round form a SQL oracle replays) —
    pairs matched so far are returned either way."""
    # one canonical row per undirected edge, self-loops dropped
    alive = (
        symmetrize(edges)
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
        .select("a", "b", _edge_priority(F.col("a"), F.col("b"), salt).alias("pri"))
        .localCheckpoint(eager=False)
    )

    done = []
    t = 0
    prev_ne = None
    while True:
        t += 1
        # min incident edge priority per endpoint
        vmin = (
            alive.select(F.col("a").alias("id"), "pri")
            .unionByName(alive.select(F.col("b").alias("id"), "pri"))
            .groupBy("id")
            .agg(F.min("pri").alias("vmin"))
        )
        flagged = (
            alive.join(vmin.withColumnRenamed("id", "a").withColumnRenamed("vmin", "amin"), "a")
            .join(vmin.withColumnRenamed("id", "b").withColumnRenamed("vmin", "bmin"), "b")
            .select(
                "a", "b", "pri",
                ((F.col("pri") == F.col("amin")) & (F.col("pri") == F.col("bmin"))).alias("win"),
            )
            .localCheckpoint(eager=False)
        )
        winners = flagged.filter("win").select("a", "b")
        matched_ids = (
            winners.select(F.col("a").alias("id"))
            .unionByName(winners.select(F.col("b").alias("id")))
        )
        nxt = (
            flagged.filter(~F.col("win"))
            .join(matched_ids.withColumnRenamed("id", "a"), "a", "left_anti")
            .join(matched_ids.withColumnRenamed("id", "b"), "b", "left_anti")
            .select("a", "b", "pri")
        )
        nxt, om = materialize_observed(nxt, [F.count(F.lit(1)).alias("ne")])
        ne = int(om["ne"] or 0)
        done.append(winners.select("a", "b", F.lit(t).alias("round")))
        if ne == 0:
            break
        if ne == prev_ne:
            raise RuntimeError(f"matching made no progress at round {t} (ne={ne})")
        prev_ne = ne
        alive = nxt
        if max_rounds is not None and t >= max_rounds:
            break

    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out


def vertex_cover(
    edges: DataFrame,
    salt: int = 5,
    max_rounds: int | None = None,
) -> DataFrame:
    """(id): 2-approximate minimum vertex cover — the endpoint set of a
    maximal matching (Gavril / Yannakakis; Vazirani, Approximation
    Algorithms §1.1). Every edge is incident to a matched vertex
    (maximality), and |cover| = 2|M| <= 2 OPT because any cover needs
    one endpoint per matched edge.

    Run to convergence (``max_rounds=None``) for the guarantee; a
    fixed-round run returns the cover of the partial matching (the
    SQL-replayable form). Adds one distinct over 2|M| rows on top of
    the matching rounds.
    """
    m = greedy_matching(edges, salt=salt, max_rounds=max_rounds)
    return (
        m.select(F.col("a").alias("id"))
        .unionByName(m.select(F.col("b").alias("id")))
        .distinct()
    )
