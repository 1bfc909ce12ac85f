"""PageRank — one power-iteration loop, four vertex programs.

``_power_iterate`` is the GLOBAL-mode program (every vertex scatters
every superstep, fogsrc/fog_engine.cpp:116-158) on the engine's one
loop, ``superstep.run_supersteps``, which owns resume, the step-0 cut
and |V|, the commit and the stop. Its superstep does the edge
alignment once, then scatter → gather → merge and the per-superstep
cut, and reports done once max|Δ| < tol. Each public function supplies
only its vertex program: the initial state (built on a fresh run only),
the scatter message, the new-rank expression and, for the convergent
modes, the dangling predicate and the ``tol`` stop rule. ``katz.katz``,
``lpa.label_propagation`` and ``coreness.coreness`` are programs of the
same kind; the last two bring their own gather fold (mode, h-index) in
place of the ``F.sum`` default. ``hits`` and ``salsa`` alternate two
gathers per iteration and supply their own superstep.

- **FOG mode** (the correctness oracle): the reference's exact —
  non-standard — recurrence, traced in SURVEY §2.8 from
  application/pagerank.hpp:62-77,102-106 + fogsrc/cpu_thread.cpp:509-534:

      rank_0(v) = 1.0
      rank_k(v) = rank_{k-1}(v) + Σ_{u→v} [ d·rank_{k-1}(u)/outdeg(u) + (1−d) ]

  The attribute accumulates (gather is ``+=`` and init runs once), the
  (1−d) term is per IN-EDGE, self-loops participate (GLOBAL scatter has
  no self-loop filter), and vertices with no in-edges keep their rank.
  Fixed iteration count (default 10, headers/options_utils.h:40-41).

- **Standard mode** (the bench/convergence target): normalized PageRank
  with uniform dangling-mass redistribution, iterated until
  max_v |rank_k − rank_{k−1}| < tol (north_rule: 1e-6).

- **Weighted mode**: the standard update with msg = rank·w/Σw instead of
  rank/outdeg.

- **Personalized mode**: teleport and dangling mass go to a seed set.

Every mode runs the same pure-DataFrame superstep — scatter join +
partial-hash-agg shuffle, whole-stage-codegen'd, zero Python in the
loop. A pandas-UDF kernel would move the state across the JVM<->Python
Arrow boundary every superstep (measured ~10x slower, BASELINE.md).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import IntegralType

# The step body lives here, not in engine/: perfbench/tracing.py finds
# supersteps by wrapping the materialize* and prepare_gather_edges names
# on this module.
from fog_spark.engine.superstep import (
    degrees_and_vertices,
    materialize,
    materialize_counted,
    materialize_observed,
    maybe_broadcast,
    merge_join,
    prepare_gather_edges,
    release,
    run_supersteps,
    vertices_of,
)

DAMPING = 0.85  # application/pagerank.hpp:22


def _outdegrees(edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """(id, outdeg) loop-preamble frame — ONE union-aggregate shuffle
    (superstep.degrees_and_vertices) for the vertex set and the scatter
    degrees. With an explicit ``vertices`` frame the vertex set is
    joined on (callers may restrict or extend the vertex set)."""
    dv = degrees_and_vertices(edges)
    if vertices is None:
        return dv
    dva = dv.select(F.col("id").alias("_vid"), "outdeg")
    return vertices.join(dva, vertices["id"] == F.col("_vid"), "left").select(
        vertices["id"], F.coalesce("outdeg", F.lit(0)).alias("outdeg")
    )


def _sum_gather(msgs: DataFrame) -> DataFrame:
    """The default gather fold: (dst, incoming = Σ msg)."""
    return msgs.groupBy("dst").agg(F.sum("msg").alias("incoming"))


def _power_iterate(
    edges: DataFrame,
    init: Callable[[], DataFrame],
    max_iters: int,
    ctx,
    msg: Column,
    rank: Callable[[int, float], Column],
    carry: tuple[str, ...],
    dangles: Column | None = None,
    tol: float | None = None,
    m_edges: Callable[[DataFrame], int] | None = None,
    gather: Callable[[DataFrame], DataFrame] = _sum_gather,
) -> tuple[DataFrame, int]:
    """Supersteps 1..max_iters of a GLOBAL-mode program on
    ``superstep.run_supersteps``, from ``init()`` (built on a fresh run
    only) or the ``ctx`` resume point.

    Each superstep scatters ``msg`` along ``edges`` (src → dst), folds
    the (dst, msg) messages into (dst, incoming) with ``gather`` (a sum
    by default), and keeps ``id``, the ``carry`` columns and
    ``rank(n, dangling)`` over state ⟕ gather as the next state, where
    n is the loop's row count.

    A number ``tol`` makes the run convergent: the old rank is kept as
    ``prev``, max|Δ| rides the cut as an observed metric (one job per
    superstep), and the run is done once max|Δ| < tol. A dangling
    predicate ``dangles`` adds the next superstep's dangling mass to
    the observed metrics. With ``tol=None`` each superstep is a plain
    cut and the run goes to max_iters; ``m_edges`` (|E| from the
    entering state) then lets prepare_gather_edges decline an alignment
    the remaining supersteps cannot amortize. The first superstep does
    the per-run setup (|E|, the edge alignment, the dangling mass);
    each superstep releases the cut it replaces. Returns ((id, rank),
    last superstep run).
    """
    prev = (F.col("rank").alias("prev"),) if tol is not None else ()
    observed: list[Column] = []
    prepared, dangling = None, 0.0

    def superstep(state, k, n):
        nonlocal prepared, dangling
        if prepared is None:
            m = m_edges(state) if m_edges is not None else None
            # gather-aligned edge cache: zero shuffle exchanges per
            # superstep when the state broadcasts
            prepared = prepare_gather_edges(edges, n, m_edges=m, expected_iters=max_iters - k + 1)
            if tol is not None:
                r, p = F.col("rank"), F.col("prev")
                if isinstance(state.schema["rank"].dataType, IntegralType):
                    # exact for integer ranks (labels): a long subtraction overflows
                    # on far-apart labels, and a double loses unit steps above 2^53
                    r, p = r.cast("decimal(20,0)"), p.cast("decimal(20,0)")
                observed.append(F.max(F.abs(r - p)).alias("delta"))
            if dangles is not None:
                dangling = state.filter(dangles).agg(F.sum("rank")).collect()[0][0] or 0.0
                observed.append(F.sum(F.when(dangles, F.col("rank")).otherwise(F.lit(0.0))).alias("dangling"))
        st = maybe_broadcast(state, n)
        msgs = prepared.join(st, prepared["src"] == st["id"]).select(prepared["dst"], msg.alias("msg"))
        agg = gather(msgs)
        nxt = merge_join(state, agg, state["id"] == agg["dst"], n).select(
            "id", *carry, *prev, rank(n, dangling).alias("rank")
        )
        delta = None
        if not observed:
            nxt = materialize(nxt, ctx, k)
        else:
            nxt, om = materialize_observed(nxt, observed, ctx, k)
            if tol is not None:
                delta = float(om["delta"] or 0.0)
            dangling = float(om.get("dangling") or 0.0)
        release(state)  # the step-0 cut or a resume read is the loop's own, too
        return nxt, n, delta, delta is not None and delta < tol

    state, k = run_supersteps(init, ctx, max_iters, superstep)
    if prepared is not None and prepared is not edges:
        prepared.unpersist()
    return state.select("id", "rank"), k


def _uniform_rank(d: float) -> Callable[[int, float], Column]:
    """Standard/weighted update: uniform teleport plus a uniform share of
    the dangling mass."""
    return lambda n, dangling: (1.0 - d) / n + d * (F.coalesce("incoming", F.lit(0.0)) + dangling / n)


# ---------------------------------------------------------------------------
# FOG mode
# ---------------------------------------------------------------------------


def pagerank_fog(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    niters: int = 10,
    d: float = DAMPING,
    ctx=None,
) -> DataFrame:
    """FOG-mode accumulating PageRank. Returns (id, rank)."""
    return _power_iterate(
        edges, lambda: _outdegrees(edges, vertices).withColumn("rank", F.lit(1.0)), niters, ctx,
        msg=d * F.col("rank") / F.col("outdeg") + (1.0 - d),
        rank=lambda n, _: F.col("rank") + F.coalesce("incoming", F.lit(0.0)),
        carry=("outdeg",),
        # |E| = sum(outdeg) — a tiny agg over the cut state — feeds the
        # edge-alignment amortization guard for this fixed-niters run
        m_edges=lambda state: int(state.agg(F.sum("outdeg")).collect()[0][0] or 0),
    )[0]


# ---------------------------------------------------------------------------
# Standard mode (normalized, convergent)
# ---------------------------------------------------------------------------


def pagerank_standard(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    d: float = DAMPING,
    tol: float = 1e-6,
    max_iters: int = 200,
    ctx=None,
    init_ranks: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Normalized PageRank to tol; returns ((id, rank), iterations_run).

    The convergence delta and the next iteration's dangling mass are
    OBSERVED on the materialize job itself — one Spark job per
    superstep, no separate aggregation scan.

    ``init_ranks`` ((id, rank)) warm-starts the power iteration — e.g.
    the previous fixed point after a streaming delta batch grew the
    graph (``streaming.read_edge_log``). The iteration is an affine
    contraction with a unique fixed point, so ANY start converges to
    the same answer; a near-answer start just crosses ``tol`` in fewer
    supersteps. Vertices absent from ``init_ranks`` (newly arrived)
    start at 1/n; a ``ctx`` resume snapshot takes precedence.
    """

    def init():
        # one materialized (id, outdeg) preamble frame: vertex set and
        # scatter degrees in a single shuffle, |V| observed on the same
        # job; on an empty graph the loop returns the empty step-0 cut
        base, n = materialize_counted(_outdegrees(edges, vertices))
        r0 = 1.0 / max(n, 1)
        state = base.select("id", "outdeg", F.lit(r0).alias("rank"), F.lit(0.0).alias("prev"))
        if init_ranks is None:
            return state
        warm = init_ranks.select(F.col("id").alias("wid"), F.col("rank").alias("wrank"))
        state = base.join(maybe_broadcast(warm, n), base["id"] == F.col("wid"), "left").select(
            "id", "outdeg", F.coalesce("wrank", F.lit(r0)).alias("rank"), F.lit(0.0).alias("prev")
        )
        # Normalize to sum 1: mass error lies along the principal
        # eigenvector and decays only at rate d (the SLOWEST mode) —
        # an unnormalized warm start from a grown graph measurably
        # converges slower than uniform (103 vs 30 supersteps at 1e-10
        # on a 31-vertex drive). Shape error decays at d·λ2, so the
        # normalized warm start is the fast path the docstring promises.
        tot = state.agg(F.sum("rank")).collect()[0][0] or 1.0
        return state.withColumn("rank", F.col("rank") / tot)

    return _power_iterate(
        edges, init, max_iters, ctx,
        msg=F.col("rank") / F.col("outdeg"),
        rank=_uniform_rank(d),
        carry=("outdeg",),
        dangles=F.col("outdeg") == 0,
        tol=tol,
    )


# ---------------------------------------------------------------------------
# Weighted mode (edge-weight-proportional transitions, convergent)
# ---------------------------------------------------------------------------


def pagerank_weighted(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    weight_col: str = "weight",
    d: float = DAMPING,
    tol: float = 1e-6,
    max_iters: int = 200,
    ctx=None,
) -> tuple[DataFrame, int]:
    """Normalized PageRank with edge-weight-proportional transitions:
    a surfer at u follows edge (u, v) with probability
    weight(u,v) / Σ_x weight(u,x). Real link graphs are weighted
    (co-occurrence counts, import multiplicity); the uniform engine
    ignores that signal. Returns ((id, rank), iterations_run).

    The transition probability ``p = w / wsum(src)`` is attached to the
    edge table ONCE before the loop (one keyed join), so the shared loop
    runs the standard update with msg = rank * p instead of
    rank / outdeg. Dangling = vertices with no (positive-weight)
    out-edges, redistributed uniformly; delta and next-round dangling
    ride the materialize job as observed metrics (one job per
    superstep). ``tol=0.0`` + ``max_iters=k`` is the fixed-depth oracle
    form.
    """
    e = edges.select("src", "dst", F.col(weight_col).alias("w")).filter(F.col("w") > 0)
    wsum = e.groupBy("src").agg(F.sum("w").alias("wsum"))
    # one concrete RDD for all supersteps, also where the loop leaves
    # the edges unaligned (big-state regime)
    pe = (
        e.join(wsum, "src")
        .select("src", "dst", (F.col("w") / F.col("wsum")).alias("p"))
        .localCheckpoint(eager=False)
    )

    def init():
        vs = vertices if vertices is not None else vertices_of(edges)
        state = vs.join(wsum, vs["id"] == wsum["src"], "left").select(
            "id", F.col("wsum").isNotNull().alias("has_out")
        )
        r0 = 1.0 / max(state.count(), 1)  # an empty graph: the loop returns at once
        return state.select("id", "has_out", F.lit(r0).alias("rank"), F.lit(0.0).alias("prev"))

    return _power_iterate(
        pe, init, max_iters, ctx,
        msg=F.col("rank") * F.col("p"),
        rank=_uniform_rank(d),
        carry=("has_out",),
        dangles=~F.col("has_out"),
        tol=tol,
    )


# ---------------------------------------------------------------------------
# Personalized mode (seeded teleport, convergent)
# ---------------------------------------------------------------------------


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    vertices: DataFrame | None = None,
    d: float = DAMPING,
    tol: float = 1e-6,
    max_iters: int = 200,
    ctx=None,
) -> tuple[DataFrame, int]:
    """Personalized PageRank: teleport mass goes to ``seeds`` (a
    DataFrame with an ``id`` column) instead of uniformly everywhere —
    the similarity/recommendation primitive an embedding-pipeline user
    reaches for next to the random-walk corpus. Returns
    ((id, rank), iterations_run).

        tele(v)  = 1/|S| if v in S else 0
        rank_0   = tele
        rank_k+1 = (1-d + d*dangling_k) * tele + d * Σ_{u→v} rank_k(u)/outdeg(u)

    Dangling mass is redistributed to the TELEPORT vector (not
    uniformly), the standard PPR formulation, so Σ rank stays 1 and
    ranks are exactly 0 outside the seeds' reachable set. Same
    superstep loop as pagerank_standard: observed delta + dangling on
    the materialize job, size-aware broadcasts, gather-aligned edge
    cache. ``tol=0.0`` never converges early — with
    ``max_iters=k`` that is the fixed-depth form external fixed-k
    oracles replay.
    """

    def init():
        # one materialized (id, outdeg) preamble frame (see
        # pagerank_standard): vertex set and scatter degrees in a single
        # shuffle, |V| observed on the same job
        base, n = materialize_counted(_outdegrees(edges, vertices))
        # intersect the seeds with the vertex set BEFORE sizing 1/|S|:
        # an unknown seed id would otherwise keep a share of teleport mass
        # that the state join then drops, deflating every rank and breaking
        # the sum-to-1 invariant this docstring promises
        seed_set = (
            seeds.select(F.col("id").alias("sid")).distinct()
            .join(base.select(F.col("id").alias("sid")), "sid", "left_semi")
        )
        n_seeds = seed_set.count()
        if n_seeds == 0 and n > 0:  # an empty graph: the loop returns at once
            raise ValueError(
                "pagerank_personalized needs a non-empty seed set intersecting the graph's vertices"
            )
        tele = F.when(F.col("sid").isNotNull(), F.lit(1.0 / max(n_seeds, 1))).otherwise(F.lit(0.0))
        return base.join(seed_set, base["id"] == seed_set["sid"], "left").select(
            "id", "outdeg", tele.alias("tele"), tele.alias("rank"), F.lit(0.0).alias("prev")
        )

    return _power_iterate(
        edges, init, max_iters, ctx,
        msg=F.col("rank") / F.col("outdeg"),
        rank=lambda n, dangling: (1.0 - d + d * dangling) * F.col("tele") + d * F.coalesce("incoming", F.lit(0.0)),
        carry=("outdeg", "tele"),
        dangles=F.col("outdeg") == 0,
        tol=tol,
    )
