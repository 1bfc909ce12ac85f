"""Sampled betweenness centrality (Brandes pivots).

Exact betweenness is one Brandes pass per vertex — O(|V||E|), a
non-starter on a web-scale link graph. The standard estimator
(Brandes & Pich 2007, "Centrality Estimation in Large Networks")
runs the pass from a k-vertex sample and scales dependencies by n/k;
the reference engine has no betweenness operator (its TODO.list stops
at SCC/triangles/MSF), so this extends the shipped msbfs machinery the
way harmonic_landmarks does: same sparse multi-source frontier, plus
Brandes' two phases.

Phase 1 (forward): multi-source BFS carrying σ — the number of
shortest paths from each root — as a running SUM gather. A vertex
first reached at superstep t has dist == t and σ = Σ σ(predecessors
at t-1) (BFS/Brandes invariant), so σ folds into the same
frontier-expansion aggregation msbfs already does; state stays the
SPARSE (id, root, dist, σ) — unreached pairs never exist.

Phase 2 (backward): dependency accumulation level by level, deepest
first: δ(v) = Σ_{w: (v,w)∈E, d(w)=d(v)+1} σ(v)/σ(w) · (1 + δ(w)).
Each level is one (edges ⋈ level-frontier) join + one (id, root)
gather — the scatter/gather shape of every other algorithm here, run
2·depth supersteps total. The composite (id, root) gather key
hash-spreads hubs by construction (BENCH_SALTING.json).

``max_depth`` truncates both phases — k-bounded betweenness, the
driver-query form: a fixed unroll depth is what makes the DuckDB
oracle expressible, and bounded-distance dependencies are themselves a
recognized estimator (distances beyond ~4 contribute little signal on
small-diameter link graphs). ``max_depth=None`` runs to convergence
(pytest-oracled against a pure-Python Brandes).

σ is carried as a double: path counts grow ~(avg outdeg)^depth, and
doubles count exactly to 2^53 — far beyond any truncated-depth count
here; the backward phase only ever uses the ratio σ(v)/σ(w) ≤ 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import materialize, materialize_observed, with_frontier_hint


def betweenness_sampled(
    edges: DataFrame,
    roots,
    max_depth: int | None = None,
    assume_simple: bool = False,
) -> DataFrame:
    """(id, root, dist, delta): Brandes dependency δ of every vertex
    reached from each sampled root (sparse — unreached pairs absent).

    Callers aggregate: bc(v) ≈ (n/k) · Σ_root δ_root(v) over dist > 0
    rows. σ-counting needs SIMPLE edges; pass ``assume_simple=True``
    to skip the defensive distinct when the input is already
    deduplicated (saves a full shuffle at scale).
    """
    spark = edges.sparkSession
    nsl = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    if not assume_simple:
        nsl = nsl.distinct()
    nsl = nsl.localCheckpoint(eager=False)  # shared by both phases: cut once
    if not isinstance(roots, DataFrame):
        roots = spark.createDataFrame([(int(r),) for r in roots], "root long")

    state = roots.select(
        F.col("root").alias("id"), "root", F.lit(0).alias("dist"), F.lit(1.0).alias("sigma")
    )
    state = materialize(state)
    active = state.count()

    # -- forward: levelled BFS accumulating shortest-path counts -----
    depth = 0
    cap = max_depth if max_depth is not None else 10_000
    for step in range(1, cap + 1):
        if active == 0:
            break
        frontier = with_frontier_hint(
            state.filter(F.col("dist") == step - 1).select("id", "root", "sigma"), active
        )
        msgs = nsl.join(frontier, nsl["src"] == frontier["id"]).select(
            nsl["dst"].alias("id"), "root", "sigma"
        )
        cand = (
            msgs.groupBy("id", "root")
            .agg(F.sum("sigma").alias("sigma"))
            .join(state.select("id", "root"), ["id", "root"], "left_anti")
        )
        new = cand.select("id", "root", F.lit(step).alias("dist"), "sigma")
        state, om = materialize_observed(
            state.unionByName(new),
            [F.sum((F.col("dist") == step).cast("long")).alias("active")],
        )
        active = int(om["active"] or 0)
        if active > 0:
            depth = step

    # -- backward: dependency accumulation, deepest level first ------
    deltas = state.withColumn("delta", F.lit(0.0))
    for lev in range(depth - 1, -1, -1):  # down to the roots: textbook
        # Brandes also accumulates the root's own delta (excluded from
        # bc by the dist > 0 filter, but part of the per-pair contract)
        # w- and v-sides both derive from `deltas`: re-alias EVERY key on
        # both sides (fresh exprIds) or Spark silently drops the
        # root-equality as a tautology (see tests/test_plans.py lore)
        w = deltas.filter(F.col("dist") == lev + 1).select(
            F.col("id").alias("wid"), F.col("root").alias("wrt"),
            F.col("sigma").alias("wsig"), F.col("delta").alias("wdelta")
        )
        along = nsl.join(w, nsl["dst"] == w["wid"]).select(
            nsl["src"].alias("avid"), F.col("wrt").alias("art"), "wsig", "wdelta"
        )
        v = deltas.filter(F.col("dist") == lev).select(
            F.col("id").alias("vid"), F.col("root").alias("vrt"), F.col("sigma").alias("vsig")
        )
        contrib = (
            along.join(v, (along["avid"] == v["vid"]) & (along["art"] == v["vrt"]))
            .groupBy("vid", "vrt")
            .agg(F.sum(F.col("vsig") / F.col("wsig") * (1.0 + F.col("wdelta"))).alias("d"))
        )
        deltas = (
            deltas.join(contrib, (deltas["id"] == contrib["vid"]) & (deltas["root"] == contrib["vrt"]), "left")
            .select(
                "id",
                deltas["root"],
                "dist",
                "sigma",
                F.when(F.col("dist") == lev, F.coalesce("d", F.lit(0.0)))
                .otherwise(F.col("delta"))
                .alias("delta"),
            )
        )
        deltas = materialize(deltas)
    return deltas.select("id", "root", "dist", "delta")
