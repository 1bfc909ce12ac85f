"""Shared superstep machinery: observed single-action supersteps, the
private Spark APIs the cut and its release depend on, the loops freeing
their own cuts, the default-vertex-set loop
preambles on hub-heavy fixtures vs the oracles, and the graph edge
cases every loop algorithm must handle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fog_spark import oracles
from fog_spark.algorithms.anf import neighborhood_function
from fog_spark.algorithms.bfs import bfs_levels
from fog_spark.algorithms.cc import connected_components
from fog_spark.algorithms.coreness import coreness
from fog_spark.algorithms.hits import hits
from fog_spark.algorithms.kcore import k_core
from fog_spark.algorithms.ktruss import k_truss
from fog_spark.algorithms.lpa import label_propagation
from fog_spark.algorithms.msbfs import multi_source_bfs
from fog_spark.algorithms.msf import minimum_spanning_forest
from fog_spark.algorithms.pagerank import (
    pagerank_fog,
    pagerank_personalized,
    pagerank_standard,
    pagerank_weighted,
)
from fog_spark.algorithms.salsa import salsa
from fog_spark.algorithms.scc import strongly_connected_components
from fog_spark.algorithms.sssp import sssp
from fog_spark.engine.superstep import active_metric, materialize, materialize_observed, release
from fog_spark.fixtures import Graph, graph_to_spark, named_graphs
from tests.test_anf import py_ball_sizes
from tests.test_coreness import py_coreness
from tests.test_ktruss import py_ktruss
from tests.test_salsa import np_salsa

GRAPHS = named_graphs()


# "<algorithm>-<fixture>" -> (run on the edges with `vertices` omitted,
# output column, oracle on the Graph). g_plaw_n1000's hubs absorb ~90
# in-edges; g_star_in's hub absorbs every edge.
CASES = {
    "cc-g_plaw_n1000": (
        lambda e: connected_components(e), "component", lambda g: oracles.wcc(g.edges, g.n).tolist()
    ),
    "lpa-g_plaw_n1000": (
        lambda e: label_propagation(e, max_iters=4),
        "label",
        lambda g: oracles.lpa(g.edges, g.n, max_iters=4).tolist(),
    ),
    "pagerank_fog-g_plaw_n1000": (
        lambda e: pagerank_fog(e, niters=3), "rank", lambda g: oracles.pagerank_fog(g.edges, g.n, niters=3)
    ),
    "pagerank_standard-g_plaw_n1000": (
        lambda e: pagerank_standard(e, tol=1e-8, max_iters=60)[0],
        "rank",
        lambda g: oracles.pagerank_standard(g.edges, g.n, tol=1e-8, max_iters=60)[0],
    ),
    "bfs-g_star_in": (lambda e: bfs_levels(e, root=0), "level", lambda g: oracles.bfs(g.edges, g.n, 0).tolist()),
    "sssp-g_star_in": (
        lambda e: sssp(e, source=0), "dist", lambda g: oracles.sssp_fog(g.edges, g.weights(), g.n, 0)[0]
    ),
    "sssp_pred-g_star_in": (
        lambda e: sssp(e, source=0), "pred", lambda g: oracles.sssp_fog(g.edges, g.weights(), g.n, 0)[1].tolist()
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_default_vertex_set_matches_oracle(spark, case):
    run, key, oracle = CASES[case]
    g = GRAPHS[case.split("-", 1)[1]]
    rows = {r["id"]: r[key] for r in run(graph_to_spark(spark, g)).collect()}
    assert set(rows) == set(range(g.n)), "default vertex set must be every edge endpoint"
    got, want = [rows[i] for i in range(g.n)], oracle(g)
    if isinstance(want, list):
        assert got == want
    else:
        assert np.allclose(got, want, atol=1e-6)


# edge case -> (graph, pass ids 0..n-1 as `vertices`). Ids are 0..n-1
# either way, so the oracles' vertex set is the algorithms' vertex set.
EDGE_CASES = {
    "duplicate_edges": (Graph("dup", np.array([[0, 1], [0, 1], [1, 2], [2, 0], [2, 3]]), 4), False),
    "selfloop_only_vertex": (Graph("loop", np.array([[0, 1], [1, 2], [2, 0], [3, 3]]), 4), False),
    "isolated_vertex": (Graph("iso", np.array([[0, 1], [1, 2], [2, 0]]), 4), True),
    "empty_graph": (Graph("empty", np.zeros((0, 2), dtype=np.int64), 0), False),
}

# loop algorithm -> (run(spark, edges, vertices) -> (rows, iterations or
# None), {output column: oracle(graph) -> (per-id values, iterations)})
LOOPS = {
    "pagerank_fog": (
        lambda s, e, v: (pagerank_fog(e, v), None),
        {"rank": lambda g: (oracles.pagerank_fog(g.edges, g.n), None)},
    ),
    "pagerank_standard": (
        lambda s, e, v: pagerank_standard(e, v),
        {"rank": lambda g: oracles.pagerank_standard(g.edges, g.n)},
    ),
    "pagerank_personalized": (
        lambda s, e, v: pagerank_personalized(e, s.createDataFrame([(0,)], "id long"), v),
        {"rank": lambda g: oracles.pagerank_personalized(g.edges, g.n, [0])},
    ),
    "pagerank_weighted": (
        lambda s, e, v: pagerank_weighted(e, v),
        {"rank": lambda g: oracles.pagerank_weighted(g.edges, g.weights(), g.n)},
    ),
    "cc": (
        lambda s, e, v: (connected_components(e, v), None),
        {"component": lambda g: (oracles.wcc(g.edges, g.n), None)},
    ),
    "bfs": (lambda s, e, v: (bfs_levels(e, 0, v), None), {"level": lambda g: (oracles.bfs(g.edges, g.n, 0), None)}),
    "scc": (
        lambda s, e, v: (strongly_connected_components(e, v), None),
        {"component": lambda g: (oracles.scc(g.edges, g.n), None)},
    ),
    "sssp": (
        lambda s, e, v: (sssp(e, 0, v), None),
        {
            "dist": lambda g: (oracles.sssp_fog(g.edges, g.weights(), g.n, 0)[0], None),
            "pred": lambda g: (oracles.sssp_fog(g.edges, g.weights(), g.n, 0)[1], None),
        },
    ),
    "lpa": (
        lambda s, e, v: (label_propagation(e, v), None),
        {"label": lambda g: (oracles.lpa(g.edges, g.n), None)},
    ),
    # py_coreness omits vertices with no neighbors: their coreness is 0
    "coreness": (
        lambda s, e, v: (coreness(e, v), None),
        {"coreness": lambda g: ([py_coreness(g.edges).get(i, 0) for i in range(g.n)], None)},
    ),
}


MSBFS_ROOTS = [0, 3]


def _bfs_pairs(g):
    """{(id, root): (dist,)} for every pair reached from MSBFS_ROOTS; a
    root is reached from itself even when no edge touches it."""
    n = max(g.n, max(MSBFS_ROOTS) + 1)
    return {
        (v, r): (int(d),)
        for r in MSBFS_ROOTS
        for v, d in enumerate(oracles.bfs(g.edges, n, r))
        if d != oracles.UNREACHED
    }


# the programs on run_supersteps -> (run(edges, vertices) -> {key:
# values}, reference(graph) -> {key: values}). `vertices` is None for
# the programs that take none; their vertex set is the edge endpoints.
PROGRAMS = {
    "kcore": (
        lambda e, v: {r["id"]: (r["degree"],) for r in k_core(e, 2, vertices=v).collect()},
        lambda g: {i: (d,) for i, d in oracles.k_core(g.edges, g.n, 2).items()},
    ),
    "hits": (
        lambda e, v: {r["id"]: (r["authority"], r["hub"]) for r in hits(e, v, niters=5).collect()},
        lambda g: dict(enumerate(zip(*oracles.hits(g.edges, g.n, niters=5)))),
    ),
    "salsa": (
        lambda e, v: {r["id"]: (r["authority"], r["hub"]) for r in salsa(e, niters=3).collect()},
        lambda g: {v: (a, h) for v, a, h in zip(*np_salsa([tuple(e) for e in g.edges.tolist()], 3))},
    ),
    "anf": (
        lambda e, v: {r["id"]: (r["n_seen"],) for r in neighborhood_function(e, 2, k=16).collect()},
        lambda g: {i: (b,) for i, b in py_ball_sizes(g.edges.tolist(), 2).items()},
    ),
    "ktruss": (
        lambda e, v: {(r["a"], r["b"]): () for r in k_truss(e, 3).collect()},
        lambda g: dict.fromkeys(py_ktruss(g.edges.tolist(), 3), ()),
    ),
    "msbfs": (
        lambda e, v: {(r["id"], r["root"]): (r["dist"],) for r in multi_source_bfs(e, MSBFS_ROOTS).collect()},
        _bfs_pairs,
    ),
    "msf": (
        lambda e, v: {(r["a"], r["b"]): (r["w"],) for r in minimum_spanning_forest(e).collect()},
        lambda g: {(a, b): (w,) for a, b, w in oracles.msf_kruskal(g.edges, g.weights())},
    ),
}
PASS_VERTICES = {"kcore", "hits"}


@pytest.mark.parametrize("case", list(EDGE_CASES))
@pytest.mark.parametrize("algo", list(LOOPS) + list(PROGRAMS))
def test_loop_edge_cases(spark, algo, case):
    g, pass_vertices = EDGE_CASES[case]
    edges = spark.createDataFrame(g.to_pandas(), "src long, dst long, weight double")
    if algo in PROGRAMS:
        run, reference = PROGRAMS[algo]
        vertices = spark.range(g.n).select("id") if pass_vertices and algo in PASS_VERTICES else None
        got, want = run(edges, vertices), reference(g)
        assert sorted(got) == sorted(want)
        for key, vals in want.items():
            assert np.allclose(got[key], vals, rtol=1e-9, atol=1e-12), (key, got[key], vals)
        return
    run, columns = LOOPS[algo]
    vertices = spark.range(g.n).select("id") if pass_vertices else None
    out, iters = run(spark, edges, vertices)
    rows = out.collect()
    if g.n == 0:
        assert rows == []
        assert iters in (None, 0)
        return
    assert sorted(r["id"] for r in rows) == list(range(g.n))
    for col, oracle in columns.items():
        want, want_iters = oracle(g)
        got = [r[col] for r in sorted(rows, key=lambda r: r["id"])]
        if col == "rank":
            assert np.allclose(got, want, rtol=1e-9, atol=1e-12)
        else:
            assert got == np.asarray(want).tolist()
        assert iters == want_iters


def test_fresh_leaf_pins_private_plan_apis(spark):
    """_fresh_leaf rebuilds a cut through queryExecution().toRdd() and
    internalCreateDataFrame: the same rows on a LogicalRDD leaf whose
    size estimate is the default, not the one the cut copied."""
    from fog_spark.engine.superstep import _fresh_leaf

    cut = spark.range(10).select("id", (F.col("id") * 2).alias("x")).localCheckpoint(eager=True)
    leaf = _fresh_leaf(cut)
    assert sorted(leaf.collect()) == sorted(cut.collect())
    assert leaf._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"

    def size(df):
        return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

    default = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    assert size(leaf) == default
    assert size(cut) != default


def test_release_pins_private_rdd_apis(spark):
    """release frees a local cut through the RDD that
    queryExecution().analyzed().rdd() names on the localCheckpoint'd
    frame: it must be the persisted RDD holding the cut's blocks, and
    SparkContext.unpersistRDD must drop it from getPersistentRDDs at
    once."""
    sc = spark.sparkContext
    cut = materialize(spark.range(10).select("id", (F.col("id") * 2).alias("x")))
    rdd = cut._cut_rdd
    assert rdd.getStorageLevel().useMemory() or rdd.getStorageLevel().useDisk()
    assert rdd.id() in sc._jsc.getPersistentRDDs()
    assert cut.count() == 10

    release(cut.select("id"))  # a derived frame has no handle: nothing happens
    assert rdd.id() in sc._jsc.getPersistentRDDs()
    release(cut)
    assert rdd.id() not in sc._jsc.getPersistentRDDs()


# loop -> a run of exactly 12 local-cut supersteps; cc's 20-vertex path
# is still changing at superstep 12, so max_iters is what stops it
RELEASING_LOOPS = {
    "pagerank_fog": lambda e: pagerank_fog(e, niters=12),
    "cc": lambda e: connected_components(e, max_iters=12),
}


@pytest.mark.parametrize("algo", list(RELEASING_LOOPS))
def test_loops_release_their_cuts(spark, algo):
    """The shared loops free each cut they replace: 12 supersteps leave
    at most a preamble cut and the returned one persisted.
    Counted right after the loop returns: a ContextCleaner GC in
    between can only lower the count."""
    sc = spark.sparkContext
    edges = spark.createDataFrame([(i, i + 1) for i in range(19)], "src long, dst long")
    before = set(sc._jsc.getPersistentRDDs().keys())
    out = RELEASING_LOOPS[algo](edges)
    new = set(sc._jsc.getPersistentRDDs().keys()) - before
    assert len(new) <= 2, f"{algo} left {len(new)} new persisted RDDs after 12 supersteps"
    assert out.count() == 20


def test_materialize_observed_matches_filter_count(spark):
    df = spark.range(500).select("id", (F.col("id") % 7 == 0).alias("changed"))
    out, om = materialize_observed(df, [active_metric()])
    assert int(om["active"]) == out.filter("changed").count()


def test_observe_saves_one_action_per_superstep(spark, monkeypatch):
    """The observed superstep must launch strictly fewer Spark jobs than
    the legacy materialize-then-count pattern on the same input."""
    import fog_spark.algorithms.cc as loop_mod  # owns the MIN-frontier loop bfs runs on

    sc = spark.sparkContext
    line = graph_to_spark(spark, GRAPHS["g_line"])

    def count_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    observed = count_jobs("obs-run", lambda: bfs_levels(line, root=0).count())

    def legacy_materialize_observed(df, metrics, ctx=None, step=None, name="state"):
        out = materialize(df, ctx, step, name)
        return out, {"active": out.filter("changed").count()}

    monkeypatch.setattr(loop_mod, "materialize_observed", legacy_materialize_observed)
    legacy = count_jobs("legacy-run", lambda: bfs_levels(line, root=0).count())
    assert observed < legacy, f"observed={observed} jobs should beat legacy={legacy}"


def test_hits_observed_norms_save_jobs(spark):
    """The L2 norms must ride the pass materializations as observed
    metrics: the current implementation launches strictly fewer Spark
    jobs than the legacy shape (separate .agg().collect() per norm,
    which re-executes the whole scatter join for a scalar). Absolute
    counts are not assertable under AQE (one materialization = several
    scheduler jobs), so this is an A/B on the same input."""
    from fog_spark.algorithms.hits import hits
    from fog_spark.engine.superstep import maybe_broadcast

    sc = spark.sparkContext
    g = GRAPHS["g_er_n100"]
    edges = graph_to_spark(spark, g).localCheckpoint(eager=True)
    vertices = spark.range(g.n).select("id").localCheckpoint(eager=True)
    niters = 3

    def count_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def legacy_hits():
        e = edges.select("src", "dst")
        state = vertices.select(
            "id", F.lit(1.0).alias("authority"), F.lit(1.0).alias("hub")
        ).localCheckpoint(eager=True)
        n = state.count()
        for _ in range(niters):
            st = maybe_broadcast(state, n)
            amsg = e.join(st, e["src"] == st["id"]).select(e["dst"], F.col("hub").alias("m"))
            agg_a = amsg.groupBy("dst").agg(F.sum("m").alias("a_raw"))
            s1 = (
                state.join(maybe_broadcast(agg_a, n), state["id"] == agg_a["dst"], "left")
                .select("id", "hub", F.coalesce("a_raw", F.lit(0.0)).alias("a_raw"))
            )
            a_norm = s1.agg(F.sqrt(F.sum(F.col("a_raw") * F.col("a_raw")))).collect()[0][0] or 1.0
            s1 = s1.select("id", (F.col("a_raw") / a_norm).alias("authority"), "hub")
            st1 = maybe_broadcast(s1, n)
            hmsg = e.join(st1, e["dst"] == st1["id"]).select(e["src"], F.col("authority").alias("m"))
            agg_h = hmsg.groupBy("src").agg(F.sum("m").alias("h_raw"))
            s2 = (
                s1.join(maybe_broadcast(agg_h, n), s1["id"] == agg_h["src"], "left")
                .select("id", "authority", F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"))
            )
            h_norm = s2.agg(F.sqrt(F.sum(F.col("h_raw") * F.col("h_raw")))).collect()[0][0] or 1.0
            state = s2.select(
                "id", "authority", (F.col("h_raw") / h_norm).alias("hub")
            ).localCheckpoint(eager=True)
        state.count()

    observed = count_jobs("hits-obs", lambda: hits(edges, vertices, niters=niters).count())
    legacy = count_jobs("hits-legacy", legacy_hits)
    assert observed < legacy, f"observed={observed} jobs should beat legacy={legacy}"
