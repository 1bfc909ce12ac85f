"""Distributed greedy (Δ+1) graph coloring, Jones–Plassmann order.

Jones & Plassmann (1993): a vertex colors itself once it is the
priority minimum among its UNCOLORED neighbors, taking the smallest
color unused by its already-colored neighbors. Every round colors an
independent set (two adjacent local minima are impossible under strict
total-order priorities), the global minimum always proceeds, and with
hash-random priorities the round count is O(log n / log log n) w.h.p.
Each vertex uses at most deg(v)+1 colors — the sequential greedy bound.

Priorities reuse the MIS construction (algorithms/mis.py): md5 strings
suffixed with the id — unique, and byte-comparable identically in
Spark and DuckDB, so a SQL oracle replays every round.

The min-excluded-color (mex) is computed as a fold over the SORTED
distinct forbidden set — O(|colored neighbors|) per vertex — never by
materializing a 0..deg sequence, which on a 200k-degree hub would be a
200k-element array per row.

Scale shape per round: one scatter-agg for neighborhood minima, one
scatter join for winners' colored-neighbor colors, one keyed
collect_set, and ONE materialized frame (the appended color table).

Not in FOG (reference apps: fogsrc/main.cpp:51-135); coloring is the
classic scheduling/symmetry-breaking companion to MIS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.mis import _priority
from fog_spark.engine.superstep import (
    materialize_observed,
    symmetrize,
    vertices_of,
)


def _mex(sorted_distinct: F.Column) -> F.Column:
    """Smallest non-negative integer missing from a sorted distinct
    non-negative int array: fold acc=0, bump when the element equals
    acc (elements below acc or gaps leave it fixed)."""
    return F.aggregate(
        sorted_distinct,
        F.lit(0),
        lambda acc, c: F.when(c == acc, acc + 1).otherwise(acc),
    )


def greedy_coloring(
    edges: DataFrame,
    salt: int = 5,
    max_rounds: int | None = None,
) -> DataFrame:
    """(id, color, round) over the symmetrized simple graph.

    ``round`` is the Jones–Plassmann round the vertex colored itself;
    with ``max_rounds`` set, still-uncolored survivors are reported
    with ``color = -1`` and ``round = max_rounds + 1`` (the fixed-round
    form a SQL oracle replays). Unbounded runs terminate — the global
    priority minimum colors itself every round.
    """
    sym = symmetrize(edges).distinct().localCheckpoint(eager=False)
    alive = (
        vertices_of(sym)
        .select("id", _priority(F.col("id"), salt).alias("pri"))
        .localCheckpoint(eager=False)
    )

    done = []  # per-round (id, color, round) frames, each a cheap
    # filter/projection of that round's materialized frame
    colors = None  # accumulated (id, color), re-materialized per round
    t = 0
    prev_nv = None
    while True:
        t += 1
        nmin = (
            sym.join(alive.select(F.col("id").alias("src"), F.col("pri").alias("np")), "src")
            .join(alive.select(F.col("id").alias("dst")), "dst", "left_semi")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("np").alias("nmin"))
        )
        winners = (
            alive.join(nmin, "id", "left")
            .filter(F.col("nmin").isNull() | (F.col("pri") < F.col("nmin")))
            .select("id")
            .localCheckpoint(eager=False)
        )
        # forbidden colors: colors of already-colored neighbors
        if colors is None:
            wcol = winners.select("id", F.lit(0).alias("color"))
        else:
            forb = (
                sym.join(winners.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .join(
                    colors.select(F.col("id").alias("src"), "color"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.array_sort(F.collect_set("color")).alias("forb"))
            )
            wcol = (
                winners.join(forb, "id", "left")
                .select(
                    "id",
                    F.when(F.col("forb").isNull(), F.lit(0))
                    .otherwise(_mex(F.col("forb")))
                    .alias("color"),
                )
            )
        nxt_colors = wcol.select("id", "color") if colors is None else (
            colors.unionByName(wcol.select("id", "color"))
        )
        nxt_colors, om = materialize_observed(nxt_colors, [F.count(F.lit(1)).alias("nc")])
        nc = int(om["nc"] or 0)
        done.append(
            nxt_colors.join(winners, "id", "left_semi")
            .select("id", "color", F.lit(t).alias("round"))
        )
        alive = alive.join(winners, "id", "left_anti").localCheckpoint(eager=False)
        colors = nxt_colors
        # progress + termination bookkeeping rides the colored count:
        # colored strictly grows every round while anything is alive
        if nc == prev_nv:
            raise RuntimeError(f"coloring made no progress at round {t} (colored={nc})")
        prev_nv = nc
        remaining = alive.count()
        if remaining == 0:
            break
        if max_rounds is not None and t >= max_rounds:
            done.append(
                alive.select("id", F.lit(-1).alias("color"),
                             F.lit(max_rounds + 1).alias("round"))
            )
            break

    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out
