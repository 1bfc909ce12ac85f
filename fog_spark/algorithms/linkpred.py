"""Link prediction: common-neighbor similarity scores over a link graph.

The standard feature family for "which edges are missing?" (Liben-
Nowell & Kleinberg 2003): for non-adjacent vertex pairs (a, b) in the
symmetrized simple graph,

    common        = |N(a) ∩ N(b)|
    jaccard       = common / |N(a) ∪ N(b)|
    adamic_adar   = Σ_{w ∈ N(a)∩N(b)} 1 / ln(deg(w))
    pref_attach   = deg(a) * deg(b)

Plan shape (the wedge join, same skeleton as triangle counting): pairs
are generated ONLY through shared neighbors — adjacency self-joined on
the center w with x1 < x2 — never all-pairs. A center of degree d
emits d(d-1)/2 pairs, so hub centers are excluded via ``max_degree``
(the standard cap; a pair whose ONLY witnesses are super-hubs is
missed, and such witnesses carry ~no signal — 1/ln(deg) -> 0 — which
is exactly Adamic-Adar's own discount, made into a hard cutoff).
``min_common`` prunes the long tail of weak candidates map-side.
Existing edges are removed by an anti-join, so the output is genuine
prediction candidates. The capped shared-center join is one helper,
``_center_pairs``, which also feeds co-citation/coupling and
related pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from fog_spark.engine.superstep import symmetrize


def _center_pairs(adj: DataFrame, max_degree: int | None, *aggs) -> DataFrame:
    """(a, b, *aggs) over the pairs a < b that share a center in ``adj``
    (w, x): center w, endpoint x. Never all-pairs: a center of degree d
    emits d(d-1)/2 pairs, so centers with d > ``max_degree`` are
    skipped. Each joined row is (w, d, a, b), so ``aggs`` may read the
    center degree ``d``."""
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("d"))
    centers = deg if max_degree is None else deg.filter(F.col("d") <= max_degree)
    adjc = adj.join(centers, "w")
    a = adjc.select("w", "d", F.col("x").alias("a"))
    b = adjc.select("w", F.col("x").alias("b"))
    return a.join(b, "w").where(F.col("a") < F.col("b")).groupBy("a", "b").agg(*aggs)


def common_neighbor_scores(
    edges: DataFrame,
    max_degree: int | None = 10_000,
    min_common: int = 1,
) -> DataFrame:
    """(a, b, common, jaccard, adamic_adar, pref_attach) for candidate
    (non-edge) pairs with >= ``min_common`` shared neighbors, a < b."""
    # one concrete RDD for the adjacency: it feeds the wedge join twice,
    # the existing-edge anti-join, and (via deg) two degree lookups —
    # without the cut each reference re-executes the upstream edge
    # derivation (Spark does not dedupe identical subplans, measured in
    # the walks work this round)
    sym = symmetrize(edges).distinct().localCheckpoint(eager=False)
    deg = sym.groupBy(F.col("src").alias("w")).agg(
        F.count(F.lit(1)).alias("wdeg")
    ).localCheckpoint(eager=False)
    scored = _center_pairs(
        sym.select(F.col("src").alias("w"), F.col("dst").alias("x")),
        max_degree,
        F.count(F.lit(1)).alias("common"),
        F.sum(1.0 / F.log("d")).alias("adamic_adar"),
    ).filter(F.col("common") >= min_common)
    # drop existing edges (either direction collapses to a<b under sym)
    existing = sym.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    cands = scored.join(existing, ["a", "b"], "left_anti")
    da = deg.select(F.col("w").alias("a"), F.col("wdeg").alias("da"))
    db = deg.select(F.col("w").alias("b"), F.col("wdeg").alias("db"))
    return (
        cands.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            (F.col("common") / (F.col("da") + F.col("db") - F.col("common"))).alias("jaccard"),
            "adamic_adar",
            (F.col("da") * F.col("db")).alias("pref_attach"),
        )
    )


def cocitation_coupling(
    edges: DataFrame,
    max_degree: int | None = 10_000,
    min_count: int = 1,
) -> DataFrame:
    """(a, b, cocited, coupled) for vertex pairs a < b over the DIRECTED
    simple graph: cocited = |{v : v→a ∧ v→b}| (co-citation, Small 1973),
    coupled = |{v : a→v ∧ b→v}| (bibliographic coupling, Kessler 1963).

    Same wedge-join scale shape as ``common_neighbor_scores``: pairs
    are generated only through a shared center — the citing vertex for
    co-citation, the cited vertex for coupling — with hub centers
    excluded via ``max_degree`` (a center of out/in-degree d emits
    d(d-1)/2 pairs). Pairs below ``min_count`` on BOTH measures are
    dropped; a pair present on one measure reports 0 on the other.
    """
    ded = edges.filter(F.col("src") != F.col("dst")).select("src", "dst") \
        .distinct().localCheckpoint(eager=False)

    cocite = _center_pairs(ded.select(F.col("src").alias("w"), F.col("dst").alias("x")),
                           max_degree, F.count(F.lit(1)).alias("cocited"))
    couple = _center_pairs(ded.select(F.col("dst").alias("w"), F.col("src").alias("x")),
                           max_degree, F.count(F.lit(1)).alias("coupled"))
    out = (
        cocite.join(couple, ["a", "b"], "full_outer")
        .select(
            "a", "b",
            F.coalesce("cocited", F.lit(0)).alias("cocited"),
            F.coalesce("coupled", F.lit(0)).alias("coupled"),
        )
    )
    return out.filter((F.col("cocited") >= min_count) | (F.col("coupled") >= min_count))


def related_pages(
    edges: DataFrame,
    k: int = 5,
    max_degree: int | None = 10_000,
) -> DataFrame:
    """(page, related, cocited, jaccard_r, rank): the top-``k`` most
    related pages per page by IN-neighborhood Jaccard — the classic
    citation-graph "related articles" measure (co-citation normalized
    by the union of citing sets):

        jaccard(a, b) = |In(a) ∩ In(b)| / |In(a) ∪ In(b)|

    Candidates are generated ONLY through a shared citing vertex (the
    co-citation wedge join, hub centers capped at ``max_degree``) —
    never all-pairs — then both orientations are emitted so every page
    carries its own ranked list. Ranking is on the 6-decimal-rounded
    Jaccard with the related id as the deterministic tie-break (the
    cross-engine ranking discipline established by tf-idf).

    With ``max_degree`` set, pairs co-cited ONLY through citers above
    the cap lose that evidence while the denominator keeps the full
    in-degrees, so ``jaccard_r`` is a LOWER BOUND on the true
    in-neighborhood Jaccard (exact when no citer exceeds the cap;
    pass ``max_degree=None`` for the exact measure).
    """
    ded = edges.filter(F.col("src") != F.col("dst")).select("src", "dst") \
        .distinct().localCheckpoint(eager=False)
    indeg = ded.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("indeg"))

    pairs = _center_pairs(
        ded.select(F.col("src").alias("w"), F.col("dst").alias("x")),
        max_degree,
        F.count(F.lit(1)).alias("cocited"),
    )
    both = pairs.select(F.col("a").alias("page"), F.col("b").alias("related"), "cocited").unionByName(
        pairs.select(F.col("b").alias("page"), F.col("a").alias("related"), "cocited")
    )
    scored = (
        both.join(indeg.select(F.col("id").alias("page"), F.col("indeg").alias("dp")), "page")
        .join(indeg.select(F.col("id").alias("related"), F.col("indeg").alias("dr")), "related")
        .select(
            "page", "related", "cocited",
            F.round(F.col("cocited") / (F.col("dp") + F.col("dr") - F.col("cocited")), 6).alias("jaccard_r"),
        )
    )
    w = Window.partitionBy("page").orderBy(F.desc("jaccard_r"), F.asc("related"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("page", "related", F.col("cocited").cast("long").alias("cocited"), "jaccard_r", "rank")
    )
