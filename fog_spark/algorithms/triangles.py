"""Exact triangle counting by degree-ordered orientation.

Absent in FOG (listed as unbuilt future work, TODO.list:17-18); required
by the north_rule. Classic distributed formulation (the one used by
every MPP engine): orient each undirected edge from the lower-(degree,
id) endpoint to the higher, so every triangle is counted exactly once as
a directed 2-path a→b, b→c closed by a→c, and — crucially for power-law
graphs — hub vertices get LOW out-degree in the oriented graph, which
bounds the wedge join's skew by sqrt(m) instead of max-degree.

This module owns the triangle stream for the whole triangle family:
``_undirected`` -> ``_oriented_cached`` -> ``_triangle_stream`` feeds
the per-vertex and total counts, 4-cliques, and ``edge_support`` (per-
edge triangle counts), which k-truss peeling reads instead of writing
its own wedge join.

Pure DataFrame equi-joins; no Python in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fog_spark.engine.superstep import vertices_of

# Oriented-edge count below which triangle counting runs the broadcast
# sorted-adjacency edge-iterator (guide-style deliberate join-strategy
# choice): the O(Σ out·in) wedge stream — 40x |o| on the bench graph —
# is then never materialized, exchanged, or probed row by row; each
# edge intersects two in-memory arrays inside ONE codegen stage.
# Cost: the adjacency relation is ~8 bytes per oriented edge plus
# per-vertex overhead (~64 MB at the 8M default) held by every
# executor; above the cap the exchange-based merge/shuffle_hash plan
# remains the scale path (a broadcast relation must fit executor
# memory). Measured at 4.78M oriented edges / 32 cores: adjacency path
# 3.8-7.1s vs exchange path 9.9-15.0s for the full count.
TRIANGLE_BROADCAST_MAX_EDGES = 8_000_000


def _undirected(edges: DataFrame) -> DataFrame:
    """(a, b) with a < b: the distinct simple undirected edges."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )


def _oriented_cached(und: DataFrame) -> tuple[DataFrame, int]:
    """Orient the ``_undirected`` frame by (degree, id) and cache.
    Returns (o, |o|).

    The undirected table is explicitly spread over the
    shuffle-partition count (AQE would coalesce this small table to a
    couple of partitions and the downstream wedge stage inherits the
    cache's parallelism), and cached so the degree aggregation and the
    orientation joins read it once. In the small regime the two degree
    joins broadcast the (|V|-row) degree table — at 10^12 edges that
    relation cannot broadcast, so past the gate AQE picks from runtime
    sizes as before. |o| == |und| (orientation is a bijection), so one
    count drives both materialization and the strategy gate."""
    n = int(und.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    und = und.repartition(n, "a", "b").persist()
    n_und = und.count()
    deg = und.select(F.explode(F.array("a", "b")).alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).alias("deg")
    )
    if 0 <= n_und <= TRIANGLE_BROADCAST_MAX_EDGES:
        # one materialization feeds both orientation joins (alias
        # projections of the same leaf -> the broadcast is built once)
        deg = deg.localCheckpoint(eager=True)
        da = F.broadcast(deg.select(F.col("v").alias("_va"), F.col("deg").alias("dega")))
        db = F.broadcast(deg.select(F.col("v").alias("_vb"), F.col("deg").alias("degb")))
    else:
        da = deg.select(F.col("v").alias("_va"), F.col("deg").alias("dega"))
        db = deg.select(F.col("v").alias("_vb"), F.col("deg").alias("degb"))
    lt = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    o = (
        und.join(da, F.col("a") == F.col("_va"))
        .join(db, F.col("b") == F.col("_vb"))
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
        .persist()
    )
    o.count()
    und.unpersist()
    return o, n_und


def _closed_wedges(o: DataFrame) -> DataFrame:
    """(lo, hi, ws): per oriented edge, the sorted array of witnesses
    closing a triangle over it — ws = N⁺(lo) ∩ N⁺(hi).

    Edge-iterator over broadcast sorted adjacency: the O(Σ out·in)
    wedge stream never materializes as rows; each edge intersects two
    in-memory arrays inside one codegen stage. Per-group state in the
    adjacency build is bounded by the orientation's ~sqrt(2m) max
    out-degree. Small-regime only (the adjacency relation must fit an
    executor).

    The adjacency is checkpointed once: au/av are alias projections of
    the SAME leaf, so the aggregation runs once and the two broadcast
    exchanges canonicalize identically (reused at runtime) instead of
    re-aggregating and double-broadcasting."""
    adj = o.groupBy("lo").agg(F.array_sort(F.collect_list("hi")).alias("nb")).localCheckpoint(eager=True)
    au = F.broadcast(adj.select(F.col("lo").alias("_u"), F.col("nb").alias("nbu")))
    av = F.broadcast(adj.select(F.col("lo").alias("_v"), F.col("nb").alias("nbv")))
    # slice(nbu, 1, 0) = empty array of nbu's exact element type
    return (
        o.join(au, F.col("lo") == F.col("_u"))
        .join(av, F.col("hi") == F.col("_v"), "left")
        .select(
            "lo",
            "hi",
            F.array_intersect("nbu", F.coalesce("nbv", F.slice("nbu", 1, 0))).alias("ws"),
        )
    )


def _triangle_stream(o: DataFrame, n_o: int) -> DataFrame:
    """(x, y, z) triangle rows from the cached oriented table.

    Small-|o| regime (<= TRIANGLE_BROADCAST_MAX_EDGES): broadcast
    sorted-adjacency edge-iterator (_closed_wedges) — the O(Σ out·in)
    wedge stream is never materialized, exchanged, or probed row by
    row; explode(ws) emits exactly the triangle rows.

    Large-|o| regime: sort-merge the wedge join and SHUFFLE_HASH the
    closure — the wedge stream is exchanged but never sorted and never
    collected to the driver; this is the only shape that survives
    10^12 edges, where a broadcast relation cannot fit.
    """
    if 0 <= n_o <= TRIANGLE_BROADCAST_MAX_EDGES:
        return _closed_wedges(o).select(
            F.col("lo").alias("x"), F.col("hi").alias("y"), F.explode("ws").alias("z")
        )
    e1 = o.select(F.col("lo").alias("x"), F.col("hi").alias("y")).hint("merge")
    e2 = o.select(F.col("lo").alias("y"), F.col("hi").alias("z")).hint("merge")
    e3 = o.select(F.col("lo").alias("x"), F.col("hi").alias("z")).hint("shuffle_hash")
    return e1.join(e2, "y").join(e3, ["x", "z"]).select("x", "y", "z")


def edge_support(und: DataFrame) -> DataFrame:
    """(a, b, sup): the number of triangles through each edge of the
    ``_undirected`` frame ``und``; edges on no triangle are absent.

    One oriented triangle stream, each triangle folded onto its three
    sides in one explode pass (a union of three projections would run
    the stream three times). The result is materialized so the oriented
    cache is released on return."""
    o, n_o = _oriented_cached(und)

    def side(p: str, q: str):
        return F.struct(F.least(p, q).alias("a"), F.greatest(p, q).alias("b"))

    sup = (
        _triangle_stream(o, n_o)
        .select(F.explode(F.array(side("x", "y"), side("y", "z"), side("x", "z"))).alias("e"))
        .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .localCheckpoint(eager=True)
    )
    o.unpersist()
    return sup


def triangle_counts(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """Returns (id, tri_count) — per-vertex triangle membership. Exact.

    Total = sum(tri_count) / 3 (each triangle touches 3 vertices);
    see triangle_total for the scalar.
    """
    vertices = vertices if vertices is not None else vertices_of(edges)
    o, n_o = _oriented_cached(_undirected(edges))
    tris = _triangle_stream(o, n_o)
    # one explode pass, NOT a 3-way union of projections: the union plan
    # repeats the triangle-stream subtree per branch, and only exchanges
    # are reused at runtime — the wedge probe would execute three times
    member = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id").agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = (
        vertices.join(member, "id", "left")
        .select(vertices["id"], F.coalesce("cnt", F.lit(0)).cast("long").alias("tri_count"))
    )
    # materialize so the oriented-edge cache can be released now instead
    # of leaking for the session lifetime
    out = out.localCheckpoint(eager=True)
    o.unpersist()
    return out


def triangle_total(edges: DataFrame) -> int:
    """The exact number of triangles of the undirected simple graph."""
    o, n_o = _oriented_cached(_undirected(edges))
    if 0 <= n_o <= TRIANGLE_BROADCAST_MAX_EDGES:
        # sum of witness-array sizes — no need to even explode
        n = _closed_wedges(o).agg(F.sum(F.size("ws"))).collect()[0][0] or 0
    else:
        n = _triangle_stream(o, n_o).count()
    o.unpersist()
    return int(n)


def four_clique_total(edges: DataFrame) -> DataFrame:
    """1-row (n_4cliques): exact 4-clique count of the undirected simple
    graph. Same degree-ordered orientation as triangle_counts — in the
    oriented DAG every 4-clique appears exactly once as a<b<c<d (rank
    order) with all six edges pointing up, so the count is the oriented
    triangle stream extended by one more out-neighbor of the top vertex
    and two EXISTS probes. The orientation keeps hub out-degrees ~sqrt(m),
    which bounds both the wedge and the extension fan-out on power-law
    graphs (the reason this shape survives web-scale inputs where a naive
    4-way enumeration does not)."""
    o, n_o = _oriented_cached(_undirected(edges))
    tris = _triangle_stream(o, n_o)
    # tighter gate than the triangle stream: this path holds THREE
    # broadcast copies of the oriented pair table (extension probe +
    # two closure semis) on top of the stream's adjacency relation, so
    # the per-executor budget divides by the extra relations
    small = 0 <= n_o <= TRIANGLE_BROADCAST_MAX_EDGES // 4
    ext_side = o.select(F.col("lo").alias("z"), F.col("hi").alias("w"))
    ext = tris.join(F.broadcast(ext_side) if small else ext_side.hint("shuffle_hash"), "z")
    c1s = o.select(F.col("lo").alias("y"), F.col("hi").alias("w"))
    c2s = o.select(F.col("lo").alias("x"), F.col("hi").alias("w"))
    c1 = ext.join(F.broadcast(c1s) if small else c1s, ["y", "w"], "left_semi")
    c2 = c1.join(F.broadcast(c2s) if small else c2s, ["x", "w"], "left_semi")
    out = c2.agg(F.count(F.lit(1)).cast("long").alias("n_4cliques")).localCheckpoint(eager=True)
    o.unpersist()
    return out
