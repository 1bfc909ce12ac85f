"""Physical-plan regression guards.

These pin the *plan shapes* the engine relies on at scale: column
pruning reaching the parquet scan, predicate pushdown, state-side
broadcast in the superstep scatter join, and the shuffle-hash closure
join in triangle counting. A change that silently loses one of these
still passes value tests at sf0.001 — and melts at 100TB.
"""

from pyspark.sql import functions as F

from fog_spark.fixtures import graph_to_spark, named_graphs
from fog_spark.queries import cooccur_edges

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_cooccur_scan_prunes_columns(spark):
    plan = _plan(cooccur_edges(spark, SF))
    # the lineitem scan must read ONLY the join/select columns
    assert "l_orderkey" in plan and "l_partkey" in plan
    for col in ("l_extendedprice", "l_quantity", "l_shipdate", "l_suppkey"):
        assert col not in plan, f"column {col} not pruned from parquet scan"


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_partkey") == 42).select("l_orderkey")
    plan = _plan(q)
    assert "PushedFilters" in plan and "l_partkey" in plan.split("PushedFilters")[1][:200]


def test_superstep_scatter_broadcasts_state_not_edges(spark):
    """Regression for the AQE inversion: with unknown stats on the
    checkpointed state, Spark used to broadcast the EDGE table."""
    from fog_spark.engine.superstep import maybe_broadcast

    edges = cooccur_edges(spark, SF).persist()
    edges.count()
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("outdeg"))
    state = deg.withColumn("rank", F.lit(1.0)).localCheckpoint(eager=True)
    n = state.count()
    st = maybe_broadcast(state, n)
    joined = edges.join(st, edges["src"] == st["id"]).select(edges["dst"])
    plan = _plan(joined)
    # the OUTER join (first BroadcastHashJoin line, src==id keys) must
    # build from the state side (BuildRight with edges streamed on the
    # left from the cache), not broadcast the edge relation
    join_line = next(l for l in plan.splitlines() if "BroadcastHashJoin [src" in l)
    assert "[id" in join_line and "BuildRight" in join_line
    assert "InMemoryTableScan" in plan  # edges streamed from cache
    edges.unpersist()


def test_triangle_closure_uses_shuffle_hash_join(spark):
    """The O(wedges) stream must never be sorted (SMJ) or collected to
    the driver (BHJ build)."""
    from fog_spark.algorithms.triangles import (
        TRIANGLE_BROADCAST_MAX_EDGES, _oriented_cached, _triangle_stream, _undirected,
    )

    g = named_graphs()["g_er_n100"]
    o, _ = _oriented_cached(_undirected(graph_to_spark(spark, g)))
    plan = _plan(_triangle_stream(o, TRIANGLE_BROADCAST_MAX_EDGES + 1))
    assert "ShuffledHashJoin" in plan
    o.unpersist()


def test_whole_stage_codegen_covers_superstep(spark):
    """The df-kernel message expression must stay inside codegen."""
    edges = cooccur_edges(spark, SF)
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("outdeg"))
    state = deg.withColumn("rank", F.lit(1.0))
    msgs = edges.join(state, edges["src"] == state["id"]).select(
        edges["dst"], (0.85 * F.col("rank") / F.col("outdeg") + 0.15).alias("msg")
    )
    agg = msgs.groupBy("dst").agg(F.sum("msg").alias("s"))
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        agg.explain("codegen")
    out = buf.getvalue()
    assert "WholeStageCodegen" in out and "Found 0" not in out.split("\n")[1]


def test_gather_aligned_superstep_has_zero_shuffle_exchanges(spark):
    """prepare_gather_edges contract: with a dst-partitioned edge cache
    and broadcast state, the ENTIRE superstep — scatter join, the
    (dst,label) count, the per-dst argmax — reuses hash(dst) and plans
    NO shuffle exchange (BroadcastExchange for the state is fine)."""
    from fog_spark.engine.superstep import prepare_gather_edges

    edges = cooccur_edges(spark, SF)
    sym = prepare_gather_edges(edges, n_state=10)  # tiny state -> dst-aligned
    assert sym is not edges
    sym.count()  # materialize the cache: the plan below starts at the scan
    state = spark.range(100).select(
        F.col("id"), F.col("id").alias("label")).localCheckpoint(eager=True)
    msgs = sym.join(F.broadcast(state), sym["src"] == state["id"]).select(
        sym["dst"], F.col("label"))
    counts = msgs.groupBy("dst", "label").agg(F.count(F.lit(1)).alias("cnt"))
    best = counts.groupBy("dst").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("label").alias("lbl"))).alias("b"))
    plan = _plan(best)
    above_cache = plan.split("InMemoryTableScan")[0]
    shuffles = [l for l in above_cache.splitlines()
                if "Exchange hashpartitioning" in l or "Exchange rangepartitioning" in l]
    assert not shuffles, f"superstep gained shuffle exchange(s): {shuffles}"
    assert "BroadcastExchange" in plan  # the state side
    sym.unpersist()


def test_gather_align_declines_unamortizable(spark):
    """The amortization guard and the big-state guard return the input
    UNCHANGED (no wasted |E| re-exchange)."""
    from fog_spark.engine.superstep import prepare_gather_edges

    edges = cooccur_edges(spark, SF)
    # 3 supersteps cannot amortize a full exchange of 100x-bigger edges
    assert prepare_gather_edges(
        edges, n_state=10, m_edges=10_000_000, expected_iters=3, partitions=8
    ) is edges
    assert prepare_gather_edges(edges, n_state=10**9) is edges  # big state


def test_random_walk_step_is_point_lookup_join(spark):
    """The per-step walk join must equi-join on BOTH (src, idx) — the
    pick index computed WALK-side from the carried out-degree — so each
    walk row matches exactly one adjacency row. The broken shape (join
    on src only, pmod pick as a post-join filter) streams a hub's whole
    neighborhood per walk: O(sum outdeg) per step instead of O(|walks|)."""
    import re

    from fog_spark.algorithms.walks import random_walks

    # plan_cuts=False keeps the whole chain in one lazy plan so the
    # step joins are visible (the default compiles each step to an RDD)
    w = random_walks(cooccur_edges(spark, SF), length=2, seed=42, plan_cuts=False)
    plan = _plan(w)
    step_joins = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\s*"
        r"(?:\w+\s+)?\[([^\]]*pick_idx[^\]]*)\],\s*\[([^\]]*)\]", plan)
    # step-2's union branch re-states step 1's join in the plan text
    # (deduplicated at runtime by exchange reuse), so >= 2, not == 2
    assert len(step_joins) >= 2, f"expected two-key step joins, got {step_joins}"
    for left_keys, right_keys in step_joins:
        assert "pick_idx" in left_keys and "idx" in right_keys
    # the pick must never be applied as a post-join filter
    for line in plan.splitlines():
        s = line.strip(" :+-")
        if s.startswith("Filter") and "pmod" in s:
            raise AssertionError(f"pick applied as post-join filter: {s[:200]}")


def test_jaccard_candidates_plan_is_candidate_first(spark):
    """ngram_jaccard_pairs(candidates=...) must NOT contain a shingle
    self-join keyed on the token alone — the candidate restriction has
    to enter BELOW the token join (candidates ⋈ a-shingles ⋈ (b_id, t)),
    or one hot shingle shared by d documents streams O(d²) rows that
    the post-aggregation semi-join can never prevent."""
    import re

    import pandas as pd

    from fog_spark.datapipe.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(pd.DataFrame(
        [(i, f"alpha beta gamma unique{i} token{i}") for i in range(12)],
        columns=["doc_id", "text"]))
    cands = spark.createDataFrame(
        pd.DataFrame([(0, 1), (2, 3)], columns=["a_id", "b_id"]))
    plan = _plan(ngram_jaccard_pairs(docs, threshold=0.0, candidates=cands))
    bad = [
        l.strip()[:160] for l in plan.splitlines()
        if re.search(r"Join\s*(?:\w+\s+)?\[t#\d+L?\],\s*\[t#\d+L?\]", l)
    ]
    assert not bad, f"unrestricted shingle self-join in candidates plan: {bad}"
    # and the b-side join must key on BOTH (b_id, t)
    assert re.search(
        r"Join\s*(?:\w+\s+)?\[b_id#\d+L?, t#\d+L?\],\s*\[(?:b_)?id#\d+L?, t#\d+L?\]", plan
    ), "expected a composite (b_id, t) equi-join in the candidates plan"


def test_alias_walk_step_is_point_lookup_join(spark):
    """The alias walk step must equi-join on BOTH (vertex, src) AND
    (slot, idx) — one adjacency row per walk — and never apply the
    slot pick as a post-join filter (the O(sum outdeg) failure shape
    the rejection/deepwalk samplers already pin)."""
    import re

    from fog_spark.algorithms.walks import weighted_random_walks_alias

    w = weighted_random_walks_alias(
        cooccur_edges(spark, SF), length=2, seed=42, plan_cuts=False
    )
    plan = _plan(w)
    step_joins = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\s*"
        r"(?:\w+\s+)?\[([^\]]*slot[^\]]*)\],\s*\[([^\]]*)\]", plan)
    assert len(step_joins) >= 2, f"expected two-key step joins, got {step_joins}"
    for left_keys, right_keys in step_joins:
        assert "slot" in left_keys and "idx" in right_keys
    for line in plan.splitlines():
        s = line.strip(" :+-")
        if s.startswith("Filter") and "pmod" in s:
            raise AssertionError(f"slot applied as post-join filter: {s[:200]}")


def test_rejection_walk_draws_are_point_lookup_joins(spark):
    """The rejection samplers' draw joins must key on BOTH (vertex,
    pick_idx) = (src, idx), one adjacency row per attempt. (Their
    residue fallback filters on the cumulative range by design, so a
    pmod filter is allowed here.)"""
    import re

    from fog_spark.algorithms.walks import node2vec_walks_rejection, weighted_random_walks

    edges = cooccur_edges(spark, SF)
    for w in (
        node2vec_walks_rejection(edges, length=2, p=2, q=3, seed=42, attempts=2, plan_cuts=False),
        weighted_random_walks(edges, length=2, seed=42, attempts=2, plan_cuts=False),
    ):
        draw_joins = re.findall(
            r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\s*"
            r"(?:\w+\s+)?\[([^\]]*pick_idx[^\]]*)\],\s*\[([^\]]*)\]", _plan(w))
        assert len(draw_joins) >= 2, f"expected two-key draw joins, got {draw_joins}"
        for left_keys, right_keys in draw_joins:
            assert "vertex" in left_keys and "pick_idx" in left_keys
            assert "src" in right_keys and "idx" in right_keys


def test_packing_offsets_have_no_global_window(spark):
    """The distributed prefix sum must not funnel the ledger through a
    single-partition global window: every Window in the plan is
    partitioned (by pid), and no Exchange SinglePartition feeds it."""
    from fog_spark.datapipe.packing import document_offsets

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma " * (i % 4 + 1)) for i in range(64)], ["doc_id", "text"]
    )
    plan = _plan(document_offsets(docs))
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the per-partition local cumsum is a window...
    # ...and every window partitions by the stamped pid
    for line in plan.splitlines():
        if "Window [" in line or line.strip().startswith("Window"):
            assert "pid" in line, line


def test_related_pages_plan_has_no_cartesian(spark):
    from fog_spark.algorithms.linkpred import related_pages
    from fog_spark.queries import directed_edges

    plan = _plan(related_pages(directed_edges(spark, SF), k=3))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_triad_census_plan_has_no_cartesian(spark):
    from fog_spark.algorithms.triads import triad_census
    from fog_spark.queries import directed_edges

    plan = _plan(triad_census(directed_edges(spark, SF)))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_sweep_cut_full_graph_side_is_distributed(spark):
    """sweep_cut's only single-partition stages are the <= topk curve
    windows AFTER the limit; the full-graph joins never cartesian."""
    from fog_spark.algorithms.sweep import sweep_cut
    from fog_spark.queries import cooccur_edges

    edges = cooccur_edges(spark, SF)
    ranks = edges.select(F.col("src").alias("id")).distinct().select(
        "id", (F.col("id") % 97 / 97.0).alias("rank")
    )
    plan = _plan(sweep_cut(ranks, edges, topk=16))
    assert "CartesianProduct" not in plan
    # the top-K frame is broadcast into the edge joins, not shuffled
    assert "BroadcastHashJoin" in plan


def test_triad_census_one_pass_over_triple_stream(spark):
    """Direction bits ride the wedge join: the whole census plans at
    most 3 join operators (wedge + third dyad, + slack for an AQE
    rewrite) — the old shape probed the O(Σ deg²) triple stream with
    six sequential per-bit joins, seven exchanges of the largest
    intermediate in the query."""
    import re

    from fog_spark.algorithms.triads import triad_census
    from fog_spark.queries import directed_edges

    plan = _plan(triad_census(directed_edges(spark, SF)))
    joins = [
        line for line in plan.splitlines()
        if re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", line)
    ]
    assert len(joins) <= 3, joins
