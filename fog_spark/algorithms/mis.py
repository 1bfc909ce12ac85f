"""Maximal independent set by deterministic-priority Luby rounds.

Luby's classic parallel MIS (Luby, SIAM J. Comput. 1986) with the
random mark replaced by a DETERMINISTIC per-vertex priority (the
derandomized variant of Blelloch, Fineman & Shun, SPAA 2012): each
round every alive vertex that is a strict local minimum of priority
over its alive neighborhood joins the MIS, and it and its neighbors
leave the graph. The globally minimal alive vertex always wins, so
every round removes at least one vertex; with hash-random priorities
the expected round count is O(log n).

Priorities are ``md5(salt:id) || '-' || lpad(id)`` strings — unique by
construction (the id suffix breaks any digest collision) and byte-wise
comparable identically in Spark and DuckDB, so a SQL oracle replays
every round's winner set exactly.

Scale shape: one scatter join + one (dst, min) aggregation for the
neighborhood minima, one scatter join for the winners' neighborhoods,
and one materialize per round — the same one-job superstep contract as
cc/lpa (engine/superstep.py). State only ever shrinks; no frontier
blow-up is possible.

Not in FOG (reference apps: fogsrc/main.cpp:51-135); MIS is the
standard symmetry-breaking primitive a link-graph service needs for
scheduling and coarsening, one step past LPA/coreness on SURVEY §2's
extension axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import (
    materialize_observed,
    maybe_broadcast,
    symmetrize,
    vertices_of,
)


def _priority(id_col, salt: int):
    sid = id_col.cast("string")
    return F.concat(
        F.md5(F.concat(F.lit(f"mis{salt}:"), sid)),
        F.lit("-"),
        F.lpad(sid, 12, "0"),
    )


def _local_minima(sym: DataFrame, alive: DataFrame, n: int | None = None) -> DataFrame:
    """(id, pri, win): every alive (id, pri) vertex, ``win`` when its
    priority is below every alive neighbor's in ``sym`` (strict local
    minimum; a vertex with no alive neighbor wins). One scatter join +
    one (dst, min) aggregation, edges restricted to alive on both
    endpoints by the two inner joins; ``n`` (|alive|, when known) lets
    the alive side broadcast. The round body of MIS and coloring."""
    st = maybe_broadcast(alive, n)
    nmin = (
        sym.join(st.select(F.col("id").alias("src"), F.col("pri").alias("np")), "src")
        .join(st.select(F.col("id").alias("dst")), "dst", "left_semi")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("np").alias("nmin"))
    )
    return alive.join(nmin, "id", "left").select(
        "id", "pri", (F.col("nmin").isNull() | (F.col("pri") < F.col("nmin"))).alias("win")
    )


def maximal_independent_set(
    edges: DataFrame,
    salt: int = 5,
    max_rounds: int | None = None,
) -> DataFrame:
    """(id, in_mis, round) over the symmetrized simple graph.

    ``round`` is the Luby round the vertex left the graph (winners and
    their neighbors leave together); with ``max_rounds`` set, survivors
    are reported with ``in_mis = 0`` and ``round = max_rounds + 1`` —
    the fixed-round form a SQL oracle replays. Unbounded runs always
    terminate (the global priority minimum wins every round) and the
    result is a true MIS: independent by the local-minimum rule,
    maximal because every removed non-winner was adjacent to a winner.
    """
    sym = symmetrize(edges).distinct().localCheckpoint(eager=False)
    alive = (
        vertices_of(sym)
        .select("id", _priority(F.col("id"), salt).alias("pri"))
        .localCheckpoint(eager=False)
    )
    n = None

    done = []  # per-round (id, in_mis, round) frames
    t = 0
    prev_nv = None
    while True:
        t += 1
        # lazy cut: the winner flags feed both sides of the marked join
        # below, and Spark does not dedupe identical subplans — without
        # the cut the nmin scatter-agg would run twice per round
        flagged = _local_minima(sym, alive, n).localCheckpoint(eager=False)
        winners = flagged.filter("win").select("id")
        # neighbors of winners, still alive, not winners themselves
        # (impossible by the strict-minimum rule, but distinct anyway)
        doomed = (
            sym.join(winners.withColumnRenamed("id", "src"), "src", "left_semi")
            .select(F.col("dst").alias("id"), F.lit(True).alias("dmd"))
            .distinct()
        )
        # ONE materialized frame per round carries win/doomed flags, so
        # the winners / leavers / survivors splits below are cheap
        # filters of the cut plan, never a re-run of the nmin join
        marked, om = materialize_observed(
            flagged.join(doomed, "id", "left"),
            [F.sum((~F.col("win") & F.col("dmd").isNull()).cast("long")).alias("nv")],
        )
        nv = int(om["nv"] or 0)
        done.append(
            marked.filter("win").select("id", F.lit(1).alias("in_mis"), F.lit(t).alias("round"))
        )
        done.append(
            marked.filter(~F.col("win") & F.col("dmd").isNotNull())
            .select("id", F.lit(0).alias("in_mis"), F.lit(t).alias("round"))
        )
        nxt = marked.filter(~F.col("win") & F.col("dmd").isNull()).select("id", "pri")
        if nv == 0:
            break
        if nv == prev_nv:
            raise RuntimeError(f"MIS made no progress at round {t} (nv={nv})")
        prev_nv = nv
        alive, n = nxt, nv
        if max_rounds is not None and t >= max_rounds:
            done.append(
                alive.select("id", F.lit(0).alias("in_mis"),
                             F.lit(max_rounds + 1).alias("round"))
            )
            break

    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out
