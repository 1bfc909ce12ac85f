"""Shared building blocks of the scatter-gather superstep.

The superstep (reference: fogsrc/fog_engine.cpp:91-243's
scatter_updates/gather_updates cycle) maps onto one Spark job:

    messages = (frontier ⨝) state ⨝ edges    -- scatter (J1, SURVEY §2.3)
    agg      = messages.groupBy(dst).agg(..) -- gather  (J2 + §2.4 folds)
    state'   = state ⟕ agg                   -- merge (left-outer: untouched
                                                vertices keep their state,
                                                reference cpu_thread.cpp:650-676)

Physical notes (the part FOG does by hand that Spark gives us):

- FOG materializes EVERY per-edge update before gathering (no map-side
  combine, cpu_thread.cpp:295-306). Spark's partial hash aggregation is
  a strict improvement we get for free — the shuffle carries one partial
  per (map partition, dst), not one row per edge.
- Pre-shuffling the edge table once by the gather key and caching it
  (``prepare_gather_edges``) keeps the big side of the superstep
  exchange-free across all supersteps: only the small state/frontier
  side moves.
- Iterative plans MUST cut lineage every superstep (``materialize``) or
  the logical plan doubles per iteration and the driver melts.
- A local cut's blocks stay persisted until someone frees them. The
  shared loops free each cut as soon as the next one exists
  (``release``); the ContextCleaner's periodic GC (session.get_spark)
  frees what other loops leave, along with old shuffle files and
  broadcasts. No superstep blocks on a GC.

``run_supersteps`` is the one superstep loop: it owns resume, the
step-0 cut and its row count, the per-step timer, the commit and the
stop, and a program supplies only its initial state and its superstep.
The GLOBAL-mode power iteration (``pagerank._power_iterate``: the four
PageRank modes, katz, lpa, coreness), the MIN frontier
(``cc.min_frontier_loop``: cc, bfs, sssp, scc, bowtie, dag) and the
hand-written programs (anf, hits, salsa, msbfs, msf, kcore, ktruss) all
run on it. Only the step bodies of the first two stay in ``pagerank.py``
and ``cc.py``: the perfbench tracer finds their supersteps by wrapping
the ``materialize*`` and ``prepare_gather_edges`` names those modules
import.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Observation, functions as F

# Below this many active vertices, hint the frontier join to broadcast
# (replaces FOG's bitmap fast path, fogsrc/fog_engine.cpp:560-568).
BROADCAST_FRONTIER_MAX = 2_000_000

# Below this many rows, hint the vertex-state side of the scatter join to
# broadcast. CRITICAL: checkpointed state scans have UNKNOWN stats, so
# without the hint AQE broadcasts the (size-estimated) EDGE table every
# superstep — backwards, and catastrophic at scale. Above the threshold
# the join falls back to sort-merge against the pre-partitioned edges.
BROADCAST_STATE_MAX = 2_000_000


def maybe_broadcast(df: DataFrame, n_rows: int | None) -> DataFrame:
    if n_rows is not None and 0 <= n_rows <= BROADCAST_STATE_MAX:
        return F.broadcast(df)
    return df


# Above this many (estimated) gather-output rows, the per-superstep
# state⟕gather merge stops broadcasting the gather side and plans a
# SHUFFLE_HASH join instead: rebuilding a multi-MB broadcast relation
# every superstep is a serial driver roundtrip, while the two small
# exchanges parallelize. Calibrated on full superstep loops (32 cores,
# warm): n=20k — broadcast 2.30s vs shuffle_hash 2.47s /10 steps;
# n=80k — broadcast 5.59s vs shuffle_hash 3.30s; n=200k — 2.18-2.84s
# vs 1.73-2.06s /5 steps. The shuffle-hash shape is also the only one
# that remains valid when the gather output outgrows broadcastability
# entirely, so this doubles as the scale regime.
BROADCAST_MERGE_MAX = 50_000


def merge_join(state: DataFrame, agg: DataFrame, cond, est_rows: int | None) -> DataFrame:
    """The superstep merge ``state ⟕ agg`` with a size-chosen strategy.

    ``est_rows`` is the caller's bound on the gather output (|V| for
    dense gathers like PageRank; min(active·64, |V|) for frontier
    algorithms, whose late rounds produce tiny aggregates where the
    broadcast is by far the cheaper plan).
    """
    if est_rows is not None and 0 <= est_rows <= BROADCAST_MERGE_MAX:
        return state.join(F.broadcast(agg), cond, "left")
    return state.join(agg.hint("shuffle_hash"), cond, "left")


def prepare_gather_edges(
    edges: DataFrame,
    n_state: int | None,
    partitions: int | None = None,
    m_edges: int | None = None,
    expected_iters: int | None = None,
) -> DataFrame:
    """Partition the edge table ONCE for a superstep loop, choosing the
    alignment by regime:

    - **broadcast-state** (n_state <= BROADCAST_STATE_MAX): hash by the
      GATHER key ``dst``. The scatter join broadcasts the state, so its
      output keeps this partitioning, and hash(dst) satisfies the
      clustering required by groupBy(dst, ...) AND any follow-up
      groupBy(dst) — the whole superstep runs with ZERO shuffle
      exchanges (measured 3x per-superstep on LPA at sf0.1).
    - **big-state or unamortizable**: return the input UNCHANGED — the
      scatter join broadcasts the state (or shuffles it to the edges),
      exactly the pre-alignment plan. (Re-exchanging an input the
      caller may already have partitioned would pay |E| for nothing.)

    Hub keys need no special path: map-side partial aggregation sends
    at most one partial per (map partition, dst) to the reducer, and AQE
    splits skewed join partitions (see BASELINE.md, "Skew: salting and
    the CSR kernel deleted").

    **Amortization guard**: the dst alignment costs one full |E|-row
    exchange up front, while each superstep it saves only the gather's
    partial-agg exchange, ~min(|E|, partitions x |V|) rows. When the
    caller knows both the edge count and the iteration budget (fixed-
    niters runs), dst-align only if the per-superstep savings cover the
    upfront exchange; convergent loops (expected_iters None) assume
    enough supersteps to amortize. Measured both ways: 40M edges /
    200k vertices / 5 iters loses ~30% dst-aligned; 2.4M edges / 20k
    vertices / 10 iters wins ~35%.

    When a new cache IS created the caller owns it (unpersist at loop
    end); test ownership with ``prepared is not edges``.
    """
    spark = edges.sparkSession
    n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # n_state == 0 (empty graph): nothing to align, never cache
    if n_state is None or not 0 < n_state <= BROADCAST_STATE_MAX:
        return edges
    if m_edges and expected_iters is not None:
        per_step_exchange = min(m_edges, n * n_state)
        if expected_iters * per_step_exchange < m_edges:
            return edges
    return edges.repartition(n, "dst").persist()


def vertices_of(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing on either side of any edge."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def degrees_and_vertices(edges: DataFrame) -> DataFrame:
    """(id, outdeg) for every vertex of the edge table — ONE
    union-aggregate shuffle.

    Replaces the two passes a loop preamble would otherwise pay
    (vertices_of's distinct and a groupBy(src) out-degree aggregation):
    the caller reads the vertex set and the out-degrees for the scatter
    message off the same materialized frame. Self-loops count toward
    the out-degree (GLOBAL-mode semantics; TARGET-mode callers filter
    self-loops before calling).
    """
    both = edges.select(F.col("src").alias("id"), F.lit(1).alias("_o")).unionByName(
        edges.select(F.col("dst").alias("id"), F.lit(0).alias("_o"))
    )
    return both.groupBy("id").agg(F.sum("_o").alias("outdeg"))


def _fresh_leaf(df: DataFrame) -> DataFrame:
    """Rebuild an already-materialized frame as a new LogicalRDD leaf
    with DEFAULT statistics.

    Dataset.localCheckpoint copies the origin plan's ESTIMATED stats
    onto the checkpoint leaf. In iterative plans whose rounds join
    their own cuts against each other (Borůvka's pointer jumping
    self-joins the parent map every jump), the estimated sizeInBytes
    COMPOUNDS multiplicatively cut over cut — by round 5 on a 3-row
    frame the driver burns 20+ seconds of pure CPU multiplying
    ~100k-digit BigIntegers inside SizeInBytesOnlyStatsPlanVisitor
    (jstack-verified: BigInteger.multiplyToomCook3 under
    LogicalRDD.rewriteStatsAndConstraints). Resetting every cut to a
    default-stats leaf bounds each round's stats arithmetic.

    Size-based broadcast decisions are unaffected in practice: this
    engine always broadcasts checkpointed state by EXPLICIT hint
    (maybe_broadcast — checkpoint stats were already unusable for
    that, see BROADCAST_STATE_MAX), and AQE re-plans from runtime
    shuffle sizes, not estimates."""
    spark = df.sparkSession
    jdf = df._jdf
    rdd = jdf.queryExecution().toRdd()
    return DataFrame(
        spark._jsparkSession.internalCreateDataFrame(rdd, jdf.schema(), False), spark
    )


def materialize(df: DataFrame, ctx=None, step: int | None = None, name: str = "state") -> DataFrame:
    """Cut lineage. With a RunContext: durable parquet checkpoint (resume
    point, replaces FOG's .attr write-back fog_engine.cpp:245-261);
    without: eager localCheckpoint (fast, non-durable) rebased onto a
    fresh default-stats leaf (see _fresh_leaf), which keeps a handle to
    the checkpoint RDD holding its blocks for ``release``.
    """
    if ctx is not None and step is not None:
        return ctx.write_state(df, step, name=name)
    cp = df.localCheckpoint(eager=True)
    out = _fresh_leaf(cp)
    out._cut_rdd = cp._jdf.queryExecution().analyzed().rdd()
    return out


def release(cut: DataFrame) -> None:
    """Free a local cut's checkpoint blocks now: the analogue of FOG's
    ping-pong buffers, where each superstep reuses the memory of the
    phase before it (SURVEY I3, fogsrc/fog_engine.cpp:124,137-139).

    A superstep loop calls this on the cut it just replaced: the next
    cut is eager, so nothing reads the old one's blocks again. Never
    call it on a cut anything still reads (the caller's input, the frame
    a loop returns, or a cut under any frame built on either): every
    frame over it loses its rows. A durable cut (parquet re-read) or any
    frame ``materialize`` did not return carries no handle, and nothing
    happens. Cuts no loop releases are left to the ContextCleaner's
    periodic GC (``spark.cleaner.periodicGC.interval``,
    session.get_spark)."""
    rdd = getattr(cut, "_cut_rdd", None)
    if rdd is not None:
        # RDD.unpersist(False) minus its WARN, every superstep, that a
        # local checkpoint's rows cannot be recomputed once freed
        rdd.context().unpersistRDD(rdd.id(), False)


def materialize_observed(
    df: DataFrame,
    metrics: list[Column],
    ctx=None,
    step: int | None = None,
    name: str = "state",
) -> tuple[DataFrame, dict]:
    """``materialize`` + observed metrics in the SAME Spark job.

    The per-superstep active-vertex count used to be a second
    ``filter(changed).count()`` job after the materialize; ``observe``
    folds it into the write/localCheckpoint action, so each superstep
    costs exactly one job (at 1000s of supersteps the saved scan per
    step is real). Metrics must be pre-aliased aggregate columns.
    """
    obs = Observation()
    out = materialize(df.observe(obs, *metrics), ctx, step, name)
    return out, obs.get


def materialize_counted(df: DataFrame, ctx=None, step: int | None = None) -> tuple[DataFrame, int]:
    """``materialize`` + the cut's row count, observed on the same job."""
    out, om = materialize_observed(df, [F.count(F.lit(1)).alias("n")], ctx, step)
    return out, int(om["n"] or 0)


def run_supersteps(init, ctx, last: int | None, step) -> tuple[DataFrame, int]:
    """Run supersteps 1..``last`` of a vertex program (``last=None``:
    until the program reports done); return the final state and the
    last superstep run.

    ``init()`` builds the fresh step-0 state; only a fresh run calls it,
    after the resume lookup, so a rerun pays for no preamble.
    ``step(state, k, n) -> (state, active, delta, done)`` computes
    superstep k from the state after k-1 and cuts its own result
    (``materialize[_observed](…, ctx, k)``), so the durable snapshot at
    k is the step's write; ``n`` is the state's row count entering the
    run. The loop owns the rest:

    - resume: with a RunContext, continue from the last committed step
      (capped at ``last``); a resumed step whose record says ``done``
      returns at once, so a converged run dir reruns no round;
    - the step-0 cut of ``init()`` on a fresh run, with ``n`` observed
      on the cut's own job; a resumed run counts its snapshot, and only
      when a step will run. An empty state returns at once;
    - the per-step timer and one ``ctx.commit`` per step, carrying
      ``done`` so a rerun can tell a converged run dir from an
      interrupted one, and the stop on done or at ``last``.

    The loop releases no cut: a step may cut more than once (hits) or
    keep earlier cuts alive (msf's forest), so a step that can free the
    cut it replaces does so itself (``release``: the power-iteration and
    MIN-frontier steps), and the ContextCleaner frees the rest."""
    k, state = 0, None
    if ctx is not None:
        rp = ctx.resume_point() if last is None else ctx.resume_point_at_most(last)
        if rp is not None:
            k, state = rp
            if any(r["superstep"] == k and r.get("done") for r in ctx.metrics()):
                return state, k
    if state is None:
        state, n = materialize_counted(init(), ctx, 0)
    elif last is None or k < last:
        n = state.count()
    else:
        return state, k
    while n and (last is None or k < last):
        k += 1
        t0 = time.time()
        state, active, delta, done = step(state, k, n)
        if ctx is not None:
            ctx.commit(k, active=active, delta=delta, wall_s=time.time() - t0,
                       lineage=ctx.lineage_of(state), done=bool(done))
        if done:
            break
    return state, k


def active_metric(col: str = "changed") -> Column:
    """Observed metric: number of rows with ``col`` true."""
    return F.sum(F.col(col).cast("long")).alias("active")


def with_frontier_hint(frontier: DataFrame, active_count: int) -> DataFrame:
    """Broadcast the frontier when it fits (north_star requirement)."""
    if 0 <= active_count <= BROADCAST_FRONTIER_MAX:
        return F.broadcast(frontier)
    return frontier


def symmetrize(edges: DataFrame, drop_self_loops: bool = True) -> DataFrame:
    """edges ∪ reverse(edges) — one pass per round then equals FOG's
    forward+backward alternation for WCC (SURVEY §2.6 I4). Duplicate
    pairs are kept: they are harmless under MIN/mode gathers and a
    distinct() would cost an extra shuffle.
    """
    e = edges.select("src", "dst")
    if drop_self_loops:
        e = e.filter(F.col("src") != F.col("dst"))
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
