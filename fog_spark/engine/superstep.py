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
"""

from __future__ import annotations

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


_MATERIALIZE_TICKS = 0
_GC_EVERY = 5


def _cleanup_tick(spark) -> None:
    """Nudge the GC-driven ContextCleaner every few supersteps.

    Spark frees shuffle files, broadcast blocks, and checkpoint RDDs only
    when the JVM garbage-collects their driver-side handles. Iterative
    jobs on a large, mostly-empty driver heap never trigger a natural GC,
    so the debris accumulates and superstep latency degrades severely
    (measured: 10s -> 114s per 10 supersteps after ~30 uncollected
    steps). One System.gc() per few supersteps keeps latency flat.
    """
    global _MATERIALIZE_TICKS
    _MATERIALIZE_TICKS += 1
    if _MATERIALIZE_TICKS % _GC_EVERY == 0:
        import gc

        gc.collect()  # drop py4j refs first so the JVM handles are dead
        spark.sparkContext._jvm.System.gc()


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
    fresh default-stats leaf (see _fresh_leaf).
    """
    if ctx is not None and step is not None:
        out = ctx.write_state(df, step, name=name)
    else:
        out = _fresh_leaf(df.localCheckpoint(eager=True))
    _cleanup_tick(df.sparkSession)
    return out


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
