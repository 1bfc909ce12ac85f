"""Deterministic random-walk corpus generation (training-pipeline op).

Graph-embedding pipelines (DeepWalk/node2vec-style) consume a corpus of
random walks. At 100 TB the walk generation itself must be a
distributed set operation, and for testability the "randomness" here is
a hash: step t of walk w moves to neighbor index

    md5(walk_id || '-' || t || '-' || seed)[:8 hex] mod outdeg(cur)

over an adjacency indexed by ``row_number() per src ordered by dst``.
Both ingredients are plain SQL, so an external oracle can replay every
walk exactly — while the statistical properties match a uniform
neighbor pick (md5 is uniform over the index range).

Plan shape — a true point lookup per step: the adjacency carries the
DESTINATION's out-degree (``dst_outdeg``, attached once at build time),
so the walk frontier always knows its current vertex's out-degree.
Each step computes ``idx = pmod(hash, outdeg)`` WALK-side and equi-joins
the adjacency on BOTH keys ``(src, idx)`` — O(|walks|) rows move per
step, never O(sum outdeg) (a hub with 29M neighbors contributes exactly
one matched row per walk positioned there, not 29M streamed-and-
filtered rows). Walks stop early at sink vertices: their ``outdeg`` is
null, so the pick index is null and the equi-join simply produces no
row. The adjacency and each step's frontier are compiled to concrete
RDDs once (lazy localCheckpoint — ``plan_cuts``): measured, Spark's
exchange reuse does NOT deduplicate the identical subplans across the
union's step branches, so without the cuts step t re-executes steps
1..t-1 and corpus generation goes superlinear in walk length (324s at
length 12 vs 6.6s with cuts on the same 100k-edge graph). With the
cuts every step and the adjacency window run exactly once —
O(length) joins total, the walk-engine cost model DeepWalk length
40-80 corpora need. ``plan_cuts=False`` keeps the fully-lazy plan
(used by the plan-shape tests).

All five samplers run the one walk loop ``_walk``: it owns the start
frontier, step 0's degree lookup, the per-step cut and the corpus
union, and each sampler supplies only its adjacency and its per-step
transition. Biased (node2vec p,q) walks: see ``node2vec_walks`` below —
same point-lookup shape, with the previous vertex carried on the
frontier and a second-order re-weighting resolved per candidate
neighborhood.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _hash_tag(walk_id, tag, seed: int):
    # first 8 md5 hex chars as an integer: < 2^32, positive on both
    # Spark (conv base 16) and DuckDB (digit-fold) — see the oracle SQL.
    # One independent stream per tag: the step number for the uniform
    # pick, "t:a:c"/"t:a:r"/"t:f"/"t:s"/"t:u" for the samplers that burn
    # several draws per step; a Column tag folds the attempt in per row.
    tag_col = F.lit(tag) if isinstance(tag, (int, str)) else tag
    h = F.md5(F.concat_ws("-", walk_id, tag_col, F.lit(seed)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def _cutter(plan_cuts: bool):
    return (lambda df: df.localCheckpoint(eager=False)) if plan_cuts else (lambda df: df)


def _index(e: DataFrame) -> DataFrame:
    # dense 0-based per-source index ordered by dst, plus the out-degree
    w = Window.partitionBy("src").orderBy("dst")
    return (
        e.withColumn("idx", F.row_number().over(w) - 1)
        .withColumn("outdeg", F.count(F.lit(1)).over(Window.partitionBy("src")))
    )


def indexed_adjacency(edges: DataFrame) -> DataFrame:
    """(src, idx, dst, outdeg): dedup'd out-adjacency with a dense
    0-based per-source index ordered by dst (the determinism contract)."""
    return _index(edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct())


def _int_weights(edges: DataFrame, weight_col: str, weight_scale: int) -> DataFrame:
    """(src, dst, w): self-loop-free edges with integer weights
    round(weight * weight_scale); parallel edges keep their max."""
    w_int = F.round(F.col(weight_col) * weight_scale).cast("long")
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst", w_int.alias("w"))
        .groupBy("src", "dst")
        .agg(F.max("w").alias("w"))
    )


def _require_positive(w_min) -> None:
    # a positive weight that rounds to 0 would make its edge silently
    # untraversable — and a vertex whose out-edges ALL round to 0 gets
    # tot=0, a null pick in Spark vs a division-by-zero in the SQL
    # replay. Fail loudly instead.
    if w_min is not None and w_min < 1:
        raise ValueError("integer weights must be >= 1 (raise weight_scale)")


def _degrees(adj: DataFrame) -> DataFrame:
    """(d_id, d_outdeg): one row per non-sink vertex of an indexed
    adjacency."""
    return adj.where(F.col("idx") == 0).select(
        F.col("src").alias("d_id"), F.col("outdeg").alias("d_outdeg")
    )


def _adjacency_with_dst_outdeg(adj: DataFrame, *cols: str) -> tuple[DataFrame, DataFrame]:
    """Returns (adj2, deg): ``adj2`` = (src, idx, dst, *cols, dst_outdeg)
    and ``deg`` = ``_degrees(adj)``. Attaching the destination's
    out-degree once is what lets every subsequent step be a pure
    (src, idx) equi-join with no degree lookup."""
    deg = _degrees(adj)
    adj2 = (
        adj.join(deg, adj["dst"] == deg["d_id"], "left")
        .select("src", "idx", "dst", *cols, F.col("d_outdeg").alias("dst_outdeg"))
    )
    return adj2, deg


def _point_lookup(frame: DataFrame, adj: DataFrame, pick, key: str = "pick_idx") -> DataFrame:
    # the draw join: the pick index is computed WALK-side and the join
    # keys on BOTH (vertex, key) = (src, idx), one adjacency row per
    # frame row; a null pick (sink) matches nothing
    drawn = frame.withColumn(key, pick)
    return drawn.join(adj, (drawn["vertex"] == adj["src"]) & (drawn[key] == adj["idx"]))


def _walk(edges, vertices, walks_per_vertex, deg, length, step, cut) -> DataFrame:
    """The walk loop every sampler runs -> (walk_id, step, vertex).

    ``walks_per_vertex`` walks start at each of ``vertices`` (default:
    every vertex of ``edges``), walk_id = vertex * walks_per_vertex +
    replica. Step 0's frontier (walk_id, vertex, outdeg) takes its
    out-degree from ``deg`` (null at a sink); afterwards the frontier
    ``step(cur, t)`` returns carries whatever its sampler needs, and a
    walk the step drops (a sink) simply ends. Each step's frontier is
    ``cut`` — localCheckpoint'ed LAZILY: the plan is compiled to one
    concrete RDD, so the union branch for step t and step t+1's chain
    share it and each step computes ONCE. Without the cut, step t's
    plan restates steps 1..t-1 and corpus generation goes superlinear
    in walk length (measured: length 12 took 324s vs 9s at length 4 on
    the same 100k-edge graph; DeepWalk corpora use length 40-80)."""
    if vertices is None:
        from fog_spark.engine.superstep import vertices_of

        vertices = cut(vertices_of(edges))
    starts = vertices.select(
        F.explode(F.array(*[F.lit(r) for r in range(walks_per_vertex)])).alias("rep"),
        F.col("id").alias("vertex"),
    ).select(
        (F.col("vertex") * walks_per_vertex + F.col("rep")).alias("walk_id"), "vertex"
    )
    cur = cut(
        starts.join(deg, starts["vertex"] == deg["d_id"], "left")
        .select("walk_id", "vertex", F.col("d_outdeg").alias("outdeg"))
    )
    parts = [cur.select("walk_id", F.lit(0).alias("step"), "vertex")]
    for t in range(1, length + 1):
        cur = cut(step(cur, t))
        parts.append(cur.select("walk_id", F.lit(t).alias("step"), "vertex"))
    while len(parts) > 1:  # halving unions keep the plan shallow
        parts = [
            parts[i].unionByName(parts[i + 1]) if i + 1 < len(parts) else parts[i]
            for i in range(0, len(parts), 2)
        ]
    return parts[0]


def random_walks(
    edges: DataFrame,
    length: int = 4,
    walks_per_vertex: int = 1,
    seed: int = 42,
    vertices: DataFrame | None = None,
    plan_cuts: bool = True,
) -> DataFrame:
    """(walk_id, step, vertex): ``walks_per_vertex`` hash-driven walks
    from every vertex, each up to ``length`` steps (ending early at
    sinks). walk_id = start_vertex * walks_per_vertex + replica."""
    cut = _cutter(plan_cuts)
    # the indexed adjacency is compiled to ONE concrete RDD; everything
    # downstream (adj2, deg, every step's join) references that RDD, so
    # the edge derivation + index window run exactly once — separately
    # compiled cuts would each re-execute the (possibly expensive,
    # unpersisted) upstream edge derivation
    adj2, deg = _adjacency_with_dst_outdeg(cut(indexed_adjacency(edges)))
    adj2 = cut(adj2)

    def step(cur, t):
        pick = F.pmod(_hash_tag(F.col("walk_id"), t, seed), F.col("outdeg"))
        return _point_lookup(cur, adj2, pick).select(
            "walk_id", F.col("dst").alias("vertex"), F.col("dst_outdeg").alias("outdeg")
        )

    return _walk(edges, vertices, walks_per_vertex, deg, length, step, cut)


def _n2v_weight(frame: DataFrame, adj: DataFrame, p: int, q: int) -> DataFrame:
    """``frame`` (.., prev, cand) plus ``w``, the scaled integer node2vec
    weight of cand: q for a return, p*q if the edge prev->cand exists,
    else p."""
    eset = adj.select(F.col("src").alias("p_src"), F.col("dst").alias("p_dst"))
    flagged = frame.join(
        eset, (frame["prev"] == eset["p_src"]) & (frame["cand"] == eset["p_dst"]), "left"
    )
    w = (
        F.when(F.col("cand") == F.col("prev"), F.lit(q))
        .when(F.col("p_src").isNotNull(), F.lit(p * q))
        .otherwise(F.lit(p))
        .cast("long")
    )
    return flagged.withColumn("w", w).drop("p_src", "p_dst")


def _holds(r):
    # the candidate whose cumulative-weight range [cum - w, cum) holds r
    return (r >= F.col("cum") - F.col("w")) & (r < F.col("cum"))


def _cumulative_pick(live: DataFrame, adj: DataFrame, p: int, q: int, h) -> DataFrame:
    """The exact node2vec step for the walks of ``live`` (walk_id,
    vertex, prev, ..): gather each walk's neighborhood, weight it, and
    choose the cand-ordered neighbor whose cumulative range holds
    r = h mod total weight -> (walk_id, vertex, prev)."""
    cand = live.join(adj, live["vertex"] == adj["src"]).select(
        "walk_id", live["vertex"], "prev", F.col("dst").alias("cand")
    )
    by_walk = Window.partitionBy("walk_id")
    wc = (
        _n2v_weight(cand, adj, p, q)
        .withColumn("cum", F.sum("w").over(
            by_walk.orderBy("cand").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", F.sum("w").over(by_walk))
    )
    return wc.where(_holds(F.pmod(h, F.col("tot")))).select(
        "walk_id", F.col("cand").alias("vertex"), F.col("vertex").alias("prev")
    )


def _first_step(cur: DataFrame, adj2: DataFrame, h) -> DataFrame:
    # a second-order walk's step 1 has no previous vertex yet: the
    # uniform (src, idx) point lookup, carrying prev and outdeg
    return _point_lookup(cur, adj2, F.pmod(h, F.col("outdeg"))).select(
        "walk_id",
        F.col("dst").alias("vertex"),
        F.col("src").alias("prev"),
        F.col("dst_outdeg").alias("outdeg"),
    )


def node2vec_walks(
    edges: DataFrame,
    length: int = 4,
    p: int = 1,
    q: int = 1,
    walks_per_vertex: int = 1,
    seed: int = 42,
    vertices: DataFrame | None = None,
    plan_cuts: bool = True,
) -> DataFrame:
    """(walk_id, step, vertex): second-order biased walks (node2vec,
    Grover & Leskovec, KDD'16). From previous vertex u at current v,
    neighbor x's unnormalized weight is 1/p if x == u (return), 1 if
    the edge u->x exists (BFS-ish), else 1/q (DFS-ish). ``p``/``q``
    must be positive INTEGERS here: scaling all weights by p*q gives
    the integer weights (q, p*q, p), so the cumulative-weight pick

        r = md5(walk_id-t-seed) mod total_weight, choose the dst-ordered
        neighbor whose cumulative range contains r

    is exact integer math an external SQL oracle replays verbatim.
    With p == q == 1 every weight is 1 and the pick degenerates to
    ``random_walks``'s uniform index pick — the two functions return
    IDENTICAL corpora (property-tested).

    Plan shape: step 1 has no previous vertex and uses the same
    (src, idx) point lookup as ``random_walks``. Steps >= 2 must gather
    each walk's CURRENT neighborhood — exact second-order sampling is
    a function of neighborhood membership (which neighbors of v are
    also neighbors of u), so the O(sum outdeg over walk positions)
    per-step cost is inherent, not an implementation artifact; it
    equals one gather superstep over the frontier, all equi-joins and
    one per-walk window, never all-pairs. (The O(1)-per-step
    alternative at extreme hub scale is KnightKing-style rejection
    sampling — SOSP'19 — trading the gather for a bounded number of
    point-lookup accept/reject probes.)
    """
    if p < 1 or q < 1:
        raise ValueError("p and q must be positive integers (weights scale by p*q)")
    cut = _cutter(plan_cuts)
    # one concrete RDD for the indexed adjacency (see random_walks):
    # steps reference it, its degree/eset projections stay cheap
    adj = cut(indexed_adjacency(edges))
    adj2, deg = _adjacency_with_dst_outdeg(adj)
    adj2 = cut(adj2)

    def step(cur, t):
        h = _hash_tag(F.col("walk_id"), t, seed)
        return _first_step(cur, adj2, h) if t == 1 else _cumulative_pick(cur, adj, p, q, h)

    return _walk(edges, vertices, walks_per_vertex, deg, length, step, cut)


def _draws(cur: DataFrame, adj2: DataFrame, attempts: int, t: int, seed: int, *carry: str) -> DataFrame:
    """All ``attempts`` uniform (src, idx) draws of step t for every walk
    of ``cur``, in ONE exploded point-lookup join (attempts x |walks|
    rows, still O(|walks|)) -> (walk_id, a, cand, cand_outdeg, *carry).
    A sequential attempt loop would schedule attempts x 2 joins of tiny
    stages per step, and the constant factor dominates (measured 512s
    vs this shape's seconds on the 200k funnel)."""
    exploded = cur.withColumn("a", F.explode(F.array(*[F.lit(a) for a in range(attempts)])))
    tag = F.concat(F.lit(f"{t}:"), F.col("a"), F.lit(":c"))
    pick = F.pmod(_hash_tag(F.col("walk_id"), tag, seed), F.col("outdeg"))
    return _point_lookup(exploded, adj2, pick).select(
        "walk_id", "a", F.col("dst").alias("cand"), F.col("dst_outdeg").alias("cand_outdeg"), *carry
    )


def _accept_bit(t: int, seed: int, bound: int):
    # attempt a of step t accepts iff its own hash mod bound < its weight
    tag = F.concat(F.lit(f"{t}:"), F.col("a"), F.lit(":r"))
    return F.pmod(_hash_tag(F.col("walk_id"), tag, seed), F.lit(bound)) < F.col("w")


def _first_accepted(drawn: DataFrame, acc, **carry: str) -> DataFrame:
    """Per walk, the lowest-numbered draw passing ``acc`` -> (walk_id,
    vertex, outdeg, *carry), each carry key taken from its drawn column."""
    return (
        drawn.where(acc)
        .groupBy("walk_id")
        .agg(F.min(F.struct("a", "cand", "cand_outdeg", *carry.values())).alias("b"))
        .select(
            "walk_id",
            F.col("b.cand").alias("vertex"),
            F.col("b.cand_outdeg").alias("outdeg"),
            *[F.col(f"b.{c}").alias(k) for k, c in carry.items()],
        )
    )


def node2vec_walks_rejection(
    edges: DataFrame,
    length: int = 4,
    p: int = 1,
    q: int = 1,
    walks_per_vertex: int = 1,
    seed: int = 42,
    attempts: int = 8,
    vertices: DataFrame | None = None,
    plan_cuts: bool = True,
) -> DataFrame:
    """(walk_id, step, vertex): node2vec walks via REJECTION sampling —
    the KnightKing strategy (Yang et al., SOSP'19) that makes
    second-order walks O(1) point lookups per step instead of a full
    neighborhood gather.

    Per step, up to ``attempts`` rounds of: draw a uniform neighbor by
    (src, idx) point lookup; compute its scaled integer weight
    w in {q (return), p*q (dist-1), p (dist-2)}; accept iff an
    independent hash mod max(q, p*q, p) < w. An accepted draw is an
    exact sample from the node2vec distribution. The residue that
    exhausts all attempts — expected fraction (1 - min_w/max_w)^attempts,
    ~0.15% at p=2/q=3/attempts=8 — falls back to the exact
    cumulative-weight gather, restricted to those walks only, so the
    sampler is distribution-EXACT end to end while the gather touches
    a vanishing fraction of the frontier. On a hub graph this is the
    difference between O(|walks| * attempts) rows and streaming a
    29M-neighbor adjacency per step.

    Fully deterministic: every draw/accept consumes a tagged md5
    stream (walk_id-"t:a:c/r"-seed), so an external SQL oracle replays
    accept, reject, and fallback verbatim. Note the corpus differs
    from ``node2vec_walks``'s (different hash consumption), but both
    are exact samplers of the same per-step distribution.
    """
    if p < 1 or q < 1:
        raise ValueError("p and q must be positive integers (weights scale by p*q)")
    if attempts < 1:
        raise ValueError("attempts must be >= 1")
    big_w = max(q, p * q, p)
    cut = _cutter(plan_cuts)
    adj = cut(indexed_adjacency(edges))
    adj2, deg = _adjacency_with_dst_outdeg(adj)
    adj2 = cut(adj2)

    def step(cur, t):  # cur: (walk_id, vertex, prev, outdeg); sinks have null outdeg
        if t == 1:
            return _first_step(cur, adj2, _hash_tag(F.col("walk_id"), "1:c", seed))
        drawn = _n2v_weight(_draws(cur, adj2, attempts, t, seed, "vertex", "prev"), adj, p, q)
        winners = _first_accepted(drawn, _accept_bit(t, seed, big_w), prev="vertex")
        # exact cumulative-weight fallback for the residue (and only it)
        residue = cur.join(winners.select("walk_id"), "walk_id", "left_anti")
        fb = _cumulative_pick(residue, adj, p, q, _hash_tag(F.col("walk_id"), f"{t}:f", seed))
        fb = fb.join(deg, fb["vertex"] == deg["d_id"], "left").select(
            "walk_id", "vertex", "prev", F.col("d_outdeg").alias("outdeg")
        )
        return winners.unionByName(fb)

    return _walk(edges, vertices, walks_per_vertex, deg, length, step, cut)


def weighted_random_walks(
    edges: DataFrame,
    length: int = 4,
    weight_col: str = "weight",
    weight_scale: int = 10,
    walks_per_vertex: int = 1,
    seed: int = 42,
    attempts: int = 8,
    vertices: DataFrame | None = None,
    plan_cuts: bool = True,
) -> DataFrame:
    """(walk_id, step, vertex): edge-weight-proportional first-order
    walks — P(v -> x) ∝ weight(v, x) — via rejection sampling, the same
    KnightKing shape as ``node2vec_walks_rejection`` but with the
    accept weight read off the traversed edge itself (no membership
    join needed).

    Weights become integers as ``round(weight * weight_scale)`` (must
    be >= 1; exact when the source weights are fixed-point decimals,
    e.g. scale 10 for one decimal place), so every accept test and the
    cumulative fallback are exact integer math an external SQL oracle
    replays. Accept bound = the GLOBAL max integer weight; per step, up
    to ``attempts`` uniform (src, idx) point-lookup draws are batched
    into one exploded join, first accepting attempt wins, and the
    residue — expected fraction (1 - w_min/w_max)^attempts — falls back
    to the exact cumulative-weight pick. Distribution-exact end to end.
    """
    if attempts < 1:
        raise ValueError("attempts must be >= 1")
    cut = _cutter(plan_cuts)
    wnd = Window.partitionBy("src").orderBy("dst")
    adj = cut(
        _index(_int_weights(edges, weight_col, weight_scale))
        .withColumn(
            "cum", F.sum("w").over(wnd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        )
        .withColumn("tot", F.sum("w").over(Window.partitionBy("src")))
    )
    wrow = adj.agg(F.max("w").alias("mx"), F.min("w").alias("mn")).collect()[0]
    _require_positive(wrow["mn"])
    # no walkable edge: no draw joins, so any accept bound will do
    w_max = int(wrow["mx"]) if wrow["mx"] is not None else 1
    adj2, deg = _adjacency_with_dst_outdeg(adj, "w")
    adj2 = cut(adj2)

    def step(cur, t):  # cur: (walk_id, vertex, outdeg)
        drawn = _draws(cur, adj2, attempts, t, seed, "w")
        winners = _first_accepted(drawn, _accept_bit(t, seed, w_max))
        residue = cur.join(winners.select("walk_id"), "walk_id", "left_anti")
        r = F.pmod(_hash_tag(F.col("walk_id"), f"{t}:f", seed), F.col("tot"))
        fb = residue.join(adj, residue["vertex"] == adj["src"]).where(_holds(r))
        fb = fb.join(deg, fb["dst"] == deg["d_id"], "left").select(
            "walk_id", F.col("dst").alias("vertex"), F.col("d_outdeg").alias("outdeg")
        )
        return winners.unionByName(fb)

    return _walk(edges, vertices, walks_per_vertex, deg, length, step, cut)


# ---------------------------------------------------------------------------
# alias-table weighted sampling (Walker 1977): O(1) draws, no rejection
# ---------------------------------------------------------------------------

_ALIAS_SCHEMA = (
    "src long, idx long, dst long, prob long, alias_dst long, "
    "outdeg long, tot long, dst_outdeg long, alias_outdeg long"
)


def build_alias_tables(
    edges: DataFrame, weight_col: str = "weight", weight_scale: int = 10
) -> DataFrame:
    """Per-vertex Walker alias tables over integer edge weights.

    Rejection sampling (``weighted_random_walks``) costs up to
    ``attempts`` draws per step and degrades as max(w)/min(w) grows;
    the alias table is the O(1)-per-draw scale path: slot j uniform in
    [0, outdeg), threshold draw u uniform in [0, tot), next = dst[j]
    if u < prob[j] else alias_dst[j] — EXACTLY weight-proportional by
    construction (all-integer: scaled weights W_i = w_i·n split across
    slots of mass tot each; P(i) = w_i/tot with no float rounding).

    Construction is one ``mapInPandas`` pass over the out-adjacency
    repartitioned by src and sorted (src, dst) within partitions —
    NOT an ``applyInPandas`` per-group call, which pays a pandas frame
    per vertex and measurably dominates on real degree distributions
    (20k outdeg-1 vertices cost ~45s per-group vs <1s batched). Group
    boundaries are numpy slices; uniform-weight groups (including every
    outdeg-1 vertex) shortcut to self-alias slots; only mixed-weight
    groups run the paired-slot loop. Deterministic (dst-sorted order,
    LIFO pairing), so two builds are identical.

    No SQL oracle replays this (the paired-slot construction is
    procedural, not relational) — tests/test_walks_alias.py instead
    proves P(dst) exact by Fraction enumeration and corpus-level
    agreement with the rejection sampler's distribution.
    """
    import numpy as np
    import pandas as pd

    ew = _int_weights(edges, weight_col, weight_scale)
    _require_positive(ew.agg(F.min("w").alias("mn")).collect()[0]["mn"])

    def _build_block(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        src = pdf["src"].to_numpy(dtype=np.int64)
        dst = pdf["dst"].to_numpy(dtype=np.int64)
        w = pdf["w"].to_numpy(dtype=np.int64)
        starts = np.flatnonzero(np.r_[True, src[1:] != src[:-1]])
        sizes = np.diff(np.r_[starts, m])
        idx = np.arange(m, dtype=np.int64) - np.repeat(starts, sizes)
        outdeg = np.repeat(sizes, sizes)
        tot = np.repeat(np.add.reduceat(w, starts), sizes)
        prob = np.empty(m, dtype=np.int64)
        alias_pos = np.arange(m, dtype=np.int64)
        for g in range(len(starts)):
            a, n = int(starts[g]), int(sizes[g])
            b = a + n
            wg = w[a:b]
            T = int(tot[a])
            if n == 1 or (wg == wg[0]).all():
                prob[a:b] = T  # uniform slots: always self
                continue
            big = [int(x) * n for x in wg]  # python ints: no overflow
            small = [i for i in range(n) if big[i] < T]
            large = [i for i in range(n) if big[i] >= T]
            while small and large:
                s, l = small.pop(), large.pop()
                prob[a + s] = big[s]
                alias_pos[a + s] = a + l
                big[l] -= T - big[s]
                (small if big[l] < T else large).append(l)
            for i in small + large:  # exactly-average leftovers: self
                prob[a + i] = T
                alias_pos[a + i] = a + i
        return pd.DataFrame(
            {
                "src": src,
                "idx": idx,
                "dst": dst,
                "prob": prob,
                "alias_dst": dst[alias_pos],
                "outdeg": outdeg,
                "tot": tot,
                "dst_outdeg": np.zeros(m, dtype=np.int64),  # attached below
                "alias_outdeg": np.zeros(m, dtype=np.int64),
            }
        )

    def _build(batches):
        # Arrow batches can split a vertex's adjacency mid-group: hold
        # back the last (possibly partial) src group and prepend it to
        # the next batch; flush it at end-of-partition. Correct because
        # rows arrive sorted by (src, dst) and a src never spans
        # partitions (repartition("src")).
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                carry = None
                continue
            tail = pdf["src"].to_numpy()
            keep = tail == tail[-1]
            carry = pdf[keep]
            body = pdf[~keep]
            if len(body):
                yield _build_block(body.reset_index(drop=True))
        if carry is not None and len(carry):
            yield _build_block(carry.reset_index(drop=True))

    dist = ew.repartition("src").sortWithinPartitions("src", "dst")
    # cut once: raw feeds BOTH the degree lookup and the table itself —
    # uncut, the pandas build would execute twice (union-branch lore)
    raw = dist.mapInPandas(_build, schema=_ALIAS_SCHEMA).localCheckpoint(eager=False)
    deg = _degrees(raw)
    out = (
        raw.drop("dst_outdeg", "alias_outdeg")
        .join(deg, raw["dst"] == deg["d_id"], "left")
        .drop("d_id")
        .withColumnRenamed("d_outdeg", "dst_outdeg")
    )
    deg2 = deg.select(F.col("d_id").alias("a_id"), F.col("d_outdeg").alias("a_outdeg"))
    return (
        out.join(deg2, out["alias_dst"] == deg2["a_id"], "left")
        .drop("a_id")
        .withColumnRenamed("a_outdeg", "alias_outdeg")
    )


def weighted_random_walks_alias(
    edges: DataFrame,
    length: int = 4,
    weight_col: str = "weight",
    weight_scale: int = 10,
    walks_per_vertex: int = 1,
    seed: int = 42,
    vertices: DataFrame | None = None,
    plan_cuts: bool = True,
) -> DataFrame:
    """(walk_id, step, vertex): weight-proportional walks via the alias
    tables — ONE (src, idx) point-lookup join per step, two hash draws,
    zero rejection residue. Same output contract as
    ``weighted_random_walks`` but a different (equally exact) draw
    stream, so corpora differ walk-by-walk while the per-edge
    transition distribution is identical.
    """
    cut = _cutter(plan_cuts)
    alias = cut(build_alias_tables(edges, weight_col, weight_scale))

    def step(cur, t):
        slot = F.pmod(_hash_tag(F.col("walk_id"), f"{t}:s", seed), F.col("outdeg"))
        drawn = _point_lookup(cur, alias, slot, key="slot")
        keep = F.pmod(_hash_tag(F.col("walk_id"), f"{t}:u", seed), F.col("tot")) < F.col("prob")
        return drawn.select(
            "walk_id",
            F.when(keep, F.col("dst")).otherwise(F.col("alias_dst")).alias("vertex"),
            F.when(keep, F.col("dst_outdeg")).otherwise(F.col("alias_outdeg")).alias("outdeg"),
        )

    return _walk(edges, vertices, walks_per_vertex, _degrees(alias), length, step, cut)
