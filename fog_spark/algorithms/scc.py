"""Strongly connected components — trim + forward/backward label rounds.

The reference's SCC (application/scc.hpp, SURVEY §2.8) alternates a
forward min-label propagation with a backward confirmation pass, inside
the engine's outer global loop, after trimming degree-0 vertices into
singleton SCCs at init (scc.hpp:48-55). This module is the same
choreography as DataFrame supersteps:

outer round (on the still-unassigned subgraph):
  1. TRIM: vertices with no in- or out-edges within the subgraph are
     singleton SCCs (iterate until none — a strict superset of FOG's
     one-shot init trim, same fixed point).
  2. FORWARD: hash-min labels along out-edges to fixed point;
     fwd(v) = min id that reaches v — a vertex program over
     cc.min_frontier_loop (every vertex starts at its own id).
  3. BACKWARD: vertices whose own id equals their forward label are
     roots; confirmation propagates along REVERSED edges, but only
     across endpoints sharing the same forward label (scc.hpp:157-167's
     "absorb iff update.root == prev_root" match-detect) — a
     bfs.reachable_set from the roots over those edges.
     Confirmed vertices form SCC(root); assign scc = fwd label.
  4. Remove assigned vertices; repeat.

Labels are the min vertex id of each SCC — exact-match against the
Tarjan oracle. Each outer round peels at least one SCC, and both inner
loops are frontier supersteps bounded by graph diameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.algorithms.bfs import reachable_set
from fog_spark.algorithms.cc import min_frontier_loop
from fog_spark.engine.superstep import materialize, materialize_observed, vertices_of


def _mat_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize + row count folded into the SAME Spark job (observe):
    the SCC driver loop needs a cardinality after nearly every
    materialization, and a separate .count() job per round doubles the
    driver round-trips at 100s of peel rounds."""
    out, om = materialize_observed(df, [F.count(F.lit(1)).alias("n")])
    return out, int(om["n"] or 0)


def forward_backward(
    edges: DataFrame,
    vertices: DataFrame,
    fwd_iters: int,
    bwd_iters: int = 10_000,
) -> tuple[DataFrame, DataFrame]:
    """Steps 2 and 3 of one outer round on ``edges`` (no self-loops)
    over ``vertices``, each capped at its own superstep count. Returns
    (fwd(id, lbl), conf(id)): fwd(v) = min id reaching v (incl. itself),
    conf = the vertices confirmed into SCC(fwd label)."""
    lbl = vertices.select("id", F.col("id").alias("lbl"), F.lit(True).alias("changed"))
    fwd = min_frontier_loop(edges, lbl, "lbl", F.col("lbl"), None, fwd_iters)

    # reach from the roots along reversed edges whose endpoints share a
    # forward label
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    lbl_src = fwd.select(F.col("id").alias("src"), F.col("lbl").alias("ls"))
    lbl_dst = fwd.select(F.col("id").alias("dst"), F.col("lbl").alias("ld"))
    rev_same = materialize(
        rev.join(lbl_src, "src").join(lbl_dst, "dst").filter("ls = ld").select("src", "dst")
    )
    conf = reachable_set(rev_same, fwd.filter(F.col("id") == F.col("lbl")), vertices, bwd_iters)
    return fwd.select("id", "lbl"), conf


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_outer: int = 100,
) -> DataFrame:
    """Returns (id, component) with component = min id of the SCC. Exact."""
    vertices = vertices if vertices is not None else vertices_of(edges)
    e = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")

    remaining, n_rem = _mat_count(vertices.select("id"))
    assigned_parts: list[DataFrame] = []

    for _ in range(max_outer):
        if n_rem == 0:
            break
        sub = (
            e.join(remaining.select(F.col("id").alias("src")), "src", "left_semi")
            .join(remaining.select(F.col("id").alias("dst")), "dst", "left_semi")
        )
        sub = materialize(sub.select("src", "dst"))

        # 1. iterative trim: no in-edge or no out-edge in the subgraph
        while True:
            srcs = sub.select(F.col("src").alias("id")).distinct()
            dsts = sub.select(F.col("dst").alias("id")).distinct()
            both = srcs.join(dsts, "id", "inner")
            trimmed = remaining.join(both, "id", "left_anti").select(
                "id", F.col("id").alias("component")
            )
            trimmed, n_trim = _mat_count(trimmed)
            if n_trim == 0:
                break
            assigned_parts.append(trimmed)
            remaining, n_rem = _mat_count(remaining.join(trimmed, "id", "left_anti"))
            sub = materialize(
                sub.join(remaining.select(F.col("id").alias("src")), "src", "left_semi")
                .join(remaining.select(F.col("id").alias("dst")), "dst", "left_semi")
            )
        if n_rem == 0:
            break

        # 2. + 3. forward labels, backward confirmation
        fwd, conf = forward_backward(sub, remaining, 500)
        done = materialize(
            fwd.join(conf, "id", "left_semi").select("id", F.col("lbl").alias("component"))
        )
        assigned_parts.append(done)
        remaining, n_rem = _mat_count(remaining.join(done, "id", "left_anti"))

    if n_rem > 0:
        raise RuntimeError(
            f"SCC did not converge within max_outer={max_outer} rounds; "
            "raise max_outer (a partial result would silently drop vertices)"
        )
    if not assigned_parts:  # empty graph
        return vertices.select("id", F.col("id").alias("component"))
    # halving unions keep the final plan O(log parts) deep — a left-deep
    # chain at max_outer=100 peel rounds would be a 100-level plan
    parts = assigned_parts
    while len(parts) > 1:
        parts = [
            parts[i].unionByName(parts[i + 1]) if i + 1 < len(parts) else parts[i]
            for i in range(0, len(parts), 2)
        ]
    return parts[0]
