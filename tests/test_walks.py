"""Edge cases every walker shares through the one walk loop: the start
frontier, hops along real edges only, and early stops only at sinks."""

import pytest

from fog_spark.algorithms.walks import (
    node2vec_walks,
    node2vec_walks_rejection,
    random_walks,
    weighted_random_walks,
    weighted_random_walks_alias,
)

LENGTH = 4

WALKERS = {
    "random": random_walks,
    "node2vec": lambda e, **kw: node2vec_walks(e, p=2, q=3, **kw),
    "node2vec_rejection": lambda e, **kw: node2vec_walks_rejection(e, p=2, q=3, attempts=2, **kw),
    "weighted": lambda e, **kw: weighted_random_walks(e, attempts=2, **kw),
    "alias": weighted_random_walks_alias,
}

# (weighted edges, explicit start vertices or None, walks_per_vertex)
CASES = {
    "empty_edges_given_vertices": ([], [3, 4], 1),
    "self_loops_only": ([(3, 3, 1.0), (4, 4, 0.5)], None, 1),
    "isolated_vertex_given": ([(0, 1, 0.5), (1, 2, 0.3), (2, 0, 0.7)], [0, 1, 2, 9], 1),
    "duplicate_edges": (
        [(0, 1, 0.5), (0, 1, 0.5), (1, 0, 0.2), (1, 2, 0.4), (1, 2, 0.4), (2, 1, 0.9)], None, 1
    ),
    "two_walks_per_vertex": ([(0, 1, 0.5), (1, 2, 0.3), (2, 0, 0.7), (2, 3, 0.2), (0, 2, 0.1)], None, 2),
}


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize("walker", WALKERS)
def test_walker_edge_cases(spark, walker, case):
    triples, given, wpv = CASES[case]
    edges = spark.createDataFrame(triples, "src long, dst long, weight double")
    kw = {"walks_per_vertex": wpv}
    if given is not None:
        kw["vertices"] = spark.createDataFrame([(v,) for v in given], "id long")
    rows = WALKERS[walker](edges, length=LENGTH, seed=7, **kw).collect()

    starts = given if given is not None else sorted({x for s, d, _ in triples for x in (s, d)})
    simple = {(s, d) for s, d, _ in triples if s != d}
    sources = {s for s, _ in simple}
    walks: dict[int, dict[int, int]] = {}
    for r in rows:
        path = walks.setdefault(r["walk_id"], {})
        assert r["step"] not in path, (r["walk_id"], r["step"])
        path[r["step"]] = r["vertex"]
    # exactly one step-0 row per (vertex, replica), walk_id = v*wpv + r
    assert sorted(walks) == sorted(v * wpv + rep for v in starts for rep in range(wpv))
    for v in starts:
        for rep in range(wpv):
            assert walks[v * wpv + rep][0] == v
    for wid, path in walks.items():
        last = max(path)
        assert sorted(path) == list(range(last + 1)), (wid, path)
        for t in range(1, last + 1):
            assert (path[t - 1], path[t]) in simple, (wid, t, path)
        if last < LENGTH:  # a short walk ends at a sink
            assert path[last] not in sources, (wid, path)
