"""Approximate neighborhood function (ANF / HyperBall) via KMV sketches.

Per-vertex out-ball size |B(v, r)| — the number of distinct vertices
reachable from v in at most r hops — estimated for EVERY vertex in one
superstep loop. This is the HyperBall algorithm (Boldi & Vigna 2013,
"In-Core Computation of Geometric Centralities with HyperBall"; the
recurrence is Palmer/Gibbons/Faloutsos ANF, KDD 2002) with the
HyperLogLog counter replaced by the repo's KMV bottom-k sketch
(datapipe/sketches.py): KMV's estimate is a deterministic md5-based
function of the reachable SET, so an external oracle that computes the
exact ball membership reproduces every estimate bit-for-bit — an
approximate algorithm with an exact correctness gate, same trick as
``kmv_reach``.

Recurrence:  B(v, r) = {v} ∪ ⋃_{(v,u) ∈ E} B(u, r-1)

and bottom-k sketches are mergeable under exactly that union
(bottomk(A ∪ B) == bottomk(bottomk(A) ∪ bottomk(B))), so the superstep
carries ≤ k hashes per vertex no matter how large the balls grow.

Plan shape per round: ONE gather join (edges ⋈ state on dst → src) +
the bounded bottom-k merge (_bounded_bottom_k_merge): explode →
distinct → row_number <= k → reassemble, all JVM built-ins, no Python,
and — the scale property — O(k) per-group state in every operator.
State is |V| rows × ≤ k longs; at 10^12 edges each round is two keyed
narrow-row shuffles whose dedup aggregate does real map-side combining
(the earlier flatten/collect_list merge concentrated deg × k hashes in
a single aggregation buffer — an executor-OOM shape on hub vertices). Reference parity: FOG has no sketch operator —
this extends its per-vertex iterate-until-radius loop (the same
scatter/gather shape as application/bfs.hpp) to cardinality sketches.

Convergence: B(v, r) stops growing once r reaches v's eccentricity, so
``neighborhood_function`` also reports the summed estimate per round —
the classic ANF curve N(r) used for effective-diameter estimation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from fog_spark.datapipe.sketches import _KMV_BITS, _kmv_hash
from fog_spark.engine.superstep import (
    materialize,
    materialize_observed,
    run_supersteps,
    vertices_of,
)


def _merged_bottom_k(k: int):
    """groupBy-agg expression: union the group's sketches, keep the k
    smallest hashes (ascending) — the KMV merge.

    WARNING — unbounded aggregation buffer: collect_list partials
    concatenate (they cannot truncate), so one vertex with in-degree d
    holds d*k hashes in a single buffer before the slice. Kept only for
    the parity test; the live loops use ``_bounded_bottom_k_merge``."""
    return F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("hvs")))), 1, k
    )


def _bounded_bottom_k_merge(unioned: DataFrame, k: int) -> DataFrame:
    """(id, hvs): bottom-k merge of all ``hvs`` arrays per id with O(k)
    per-group state everywhere — the scale-safe KMV merge.

    explode to (id, h) → distinct (hash-aggregate with FIXED-size
    buffers and real map-side combining) → row_number <= k per id
    ascending (streaming over the sort, O(1) state) → re-assemble (the
    final collect_list sees at most k rows per group). Identical result
    to ``_merged_bottom_k``; unlike it, no aggregation buffer ever holds
    more than one row's worth of state, so a 10^6-in-degree hub costs
    the same per-task memory as a leaf (the flatten/collect_list form
    materializes deg*k hashes in ONE buffer — executor-OOM at scale).
    The window's groupBy reuses the window exchange's hash(id)
    clustering, so the merge is two narrow-row exchanges per round.
    explode_outer (not explode) keeps ids whose every input sketch is
    empty: their null placeholder survives the rank and collect_list
    skips it, yielding the same empty-array row the flatten merge
    produced instead of dropping the vertex."""
    pairs = unioned.select("id", F.explode_outer("hvs").alias("h")).distinct()
    w = Window.partitionBy("id").orderBy("h")
    ranked = pairs.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k)
    return ranked.groupBy("id").agg(F.array_sort(F.collect_list("h")).alias("hvs"))


def estimate_from_sketch(k: int):
    """(n_seen, estimate) columns from a bottom-k ``hvs`` array.

    size < k  → the ball was captured whole: exact count;
    size == k → (k-1) / R_k with R_k = k-th smallest normalized hash.
    """
    n = F.size("hvs")
    est = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.element_at("hvs", k) / F.lit(float(2 ** _KMV_BITS)))
    )
    return n.cast("long").alias("n_seen"), est.alias("estimate")


def _seed(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(fwd, state_0): the simple self-loop-free edge table (cut once,
    read every round) and each vertex's radius-0 sketch B(v, 0) = {v}
    — for every endpoint of ``edges``, so a vertex whose only edge is
    a self-loop keeps its ball {v}."""
    fwd = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=False)
    )
    return fwd, vertices_of(edges).select("id", F.array(_kmv_hash(F.col("id"))).alias("hvs"))


def _grow(fwd: DataFrame, state: DataFrame, k: int) -> DataFrame:
    """One round: (id, hvs) sketches of B(v, r) from those of B(·, r-1)
    — one gather join plus the bounded bottom-k merge."""
    contrib = fwd.join(state, fwd["dst"] == state["id"]).select(fwd["src"].alias("id"), "hvs")
    return _bounded_bottom_k_merge(state.unionByName(contrib), k)


def neighborhood_sketches(
    edges: DataFrame,
    radius: int,
    k: int = 16,
    ctx=None,
) -> DataFrame:
    """(id, hvs): the bottom-k KMV sketch of the out-ball B(id, radius)
    over the directed graph ``edges`` (src, dst). Self-loops are
    ignored (v is in its own ball regardless).

    One round per superstep of ``run_supersteps``, which owns resume
    and the commit: the sketch array IS the state, so a resumed run
    continues growing balls from the committed round.
    """
    fwd, state = _seed(edges)

    def grow(state, r, n):
        # total sketch mass rides the materialize job: the ANF curve
        # N(r) ~ Σ_v |sketch| saturates exactly when the balls do
        state, om = materialize_observed(
            _grow(fwd, state, k), [F.sum(F.size("hvs")).alias("mass")], ctx, r
        )
        return state, int(om["mass"] or 0), None, False

    return run_supersteps(lambda: state, ctx, radius, grow)[0]


def neighborhood_function(
    edges: DataFrame,
    radius: int,
    k: int = 16,
    ctx=None,
) -> DataFrame:
    """(id, n_seen, estimate): per-vertex estimated |B(id, radius)|."""
    sk = neighborhood_sketches(edges, radius, k=k, ctx=ctx)
    n_seen, est = estimate_from_sketch(k)
    return sk.select("id", n_seen, est)


def anf_curve(edges: DataFrame, radius: int, k: int = 16) -> DataFrame:
    """(r, n_micro, reaches90): the ANF curve N(r) = Σ_v est|B(v, r)|
    for r = 0..radius, with the classic effective-diameter readout —
    ``reaches90`` is true once N(r) >= 0.9 * N(radius), so the smallest
    flagged r is the (estimated, radius-capped) effective diameter
    (Palmer/Gibbons/Faloutsos ANF, KDD 2002 §2.2).

    Cross-engine exactness: per-vertex estimates are micro-rounded
    (round(est * 1e6) as int) before summing — integer sums are
    order-independent, so Spark and an external replay agree exactly
    where a double sum would drift with partition order; the 90%
    threshold compares 10 * N(r) >= 9 * N(radius) in integers.

    Plan shape: the same one-gather-one-agg superstep as
    ``neighborhood_sketches``; each round's state is plan-cut
    (localCheckpoint) so the final union of radius+1 one-row aggregates
    re-executes nothing. At the 100 TB tier the curve is |radius|+1
    rows — the per-round scans are the cost, identical to running the
    sketch loop itself.
    """
    fwd, state = _seed(edges)
    state = materialize(state, None, 0)
    states = [(0, state)]
    for r in range(1, radius + 1):
        state = materialize(_grow(fwd, state, k), None, r)
        states.append((r, state))

    _, est = estimate_from_sketch(k)
    micro = F.round(F.col("estimate") * F.lit(1e6), 0).cast("long")
    curve = None
    for r, st in states:
        row = (
            st.select(est)
            .agg(F.sum(micro).alias("n_micro"))
            .select(F.lit(r).cast("int").alias("r"), "n_micro")
        )
        curve = row if curve is None else curve.unionByName(row)
    final = curve.filter(F.col("r") == radius).select(
        F.col("n_micro").alias("final_micro")
    )
    return curve.crossJoin(F.broadcast(final)).select(
        "r",
        "n_micro",
        (F.col("n_micro") * 10 >= F.col("final_micro") * 9).alias("reaches90"),
    )
