"""k-truss peeling vs a pure-Python support-peel oracle."""

from collections import defaultdict

import numpy as np
import pandas as pd

from fog_spark.algorithms.ktruss import k_truss


def py_ktruss(E, k):
    E = {tuple(sorted((a, b))) for a, b in E if a != b}
    while True:
        adj = defaultdict(set)
        for a, b in E:
            adj[a].add(b)
            adj[b].add(a)
        keep = {(a, b) for a, b in E if len(adj[a] & adj[b]) >= k - 2}
        if keep == E:
            return E
        E = keep


def _df(spark, E):
    return spark.createDataFrame(pd.DataFrame(E, columns=["src", "dst"]))


def _run(spark, E, k, **kw):
    return {(r["a"], r["b"]) for r in k_truss(_df(spark, E), k, **kw).collect()}


def test_ktruss_two_cliques_sharing_an_edge(spark):
    c1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(4, 9) for b in range(a + 1, 9)]
    E = c1 + c2 + [(2, 20), (20, 21)]  # pendant path: never in any truss >= 3
    for k in (3, 4, 5, 6):
        assert _run(spark, E, k) == py_ktruss(E, k), k


def test_ktruss_random_graphs(spark):
    rng = np.random.default_rng(13)
    E = [(int(a), int(b)) for a, b in rng.integers(0, 30, size=(160, 2))]
    for k in (3, 4):
        assert _run(spark, E, k) == py_ktruss(E, k), k


def test_ktruss_random_graphs_exchange(spark, triangle_exchange):
    """Support from the merge/shuffle-hash triangle stream."""
    test_ktruss_random_graphs(spark)


def test_ktruss_fixed_rounds_then_resume_converges(spark, tmp_path):
    from fog_spark.engine.checkpoint import RunContext

    rng = np.random.default_rng(17)
    E = [(int(a), int(b)) for a, b in rng.integers(0, 25, size=(120, 2))]
    clean = _run(spark, E, 4)
    ctx = RunContext(spark, str(tmp_path), "kt", collect_lineage=False)
    _run(spark, E, 4, rounds=1, ctx=ctx)  # partial peel, committed
    ctx2 = RunContext(spark, str(tmp_path), "kt", collect_lineage=False)
    assert _run(spark, E, 4, ctx=ctx2) == clean  # resumes round 1, finishes
