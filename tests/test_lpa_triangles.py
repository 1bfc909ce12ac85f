"""LPA and triangle counting vs oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fog_spark import oracles
from fog_spark.algorithms import label_propagation, triangle_counts
from fog_spark.algorithms.triangles import triangle_total
from fog_spark.fixtures import graph_to_spark, make_er_graph, named_graphs

GRAPHS = named_graphs()


def _col(df, key, n):
    rows = {r["id"]: r[key] for r in df.collect()}
    return [rows.get(i) for i in range(n)]


@pytest.mark.parametrize("name", ["g_line", "g_two_comp", "g_tri", "g_er_n100"])
def test_lpa_matches_oracle(spark, name):
    g = GRAPHS[name]
    expected = oracles.lpa(g.edges, g.n, max_iters=20)
    vertices = spark.range(g.n).select("id")
    got = _col(label_propagation(graph_to_spark(spark, g), vertices, max_iters=20), "label", g.n)
    assert got == expected.tolist()


def test_lpa_converged_rerun_writes_nothing(spark, tmp_path):
    """A rerun on a run dir that reached its fixed point reads the
    labels back: the same labels, and no metric record is rewritten."""
    from fog_spark.engine.checkpoint import RunContext

    g = GRAPHS["g_two_comp"]
    edges = graph_to_spark(spark, g)
    ctx = RunContext(spark, str(tmp_path), "lpa", collect_lineage=False)
    first = _col(label_propagation(edges, ctx=ctx), "label", g.n)
    written = [(m["superstep"], m["ts"]) for m in ctx.metrics()]
    assert ctx.metrics()[-1]["delta"] == 0  # stopped at the fixed point

    rerun = RunContext(spark, str(tmp_path), "lpa", collect_lineage=False)
    assert _col(label_propagation(edges, ctx=rerun), "label", g.n) == first
    assert [(m["superstep"], m["ts"]) for m in rerun.metrics()] == written


@pytest.mark.parametrize(
    "ids,pairs",
    [
        # 10^19 apart (hashed ids): a long subtraction would overflow
        ([-5 * 10**18, 1, 5 * 10**18, 5 * 10**18 + 7], [(0, 2), (2, 3), (3, 0), (0, 1)]),
        # 1 apart above 2^53 (snowflake-style ids): a double sees no change
        ([2**62 + i for i in range(4)], [(0, 1), (1, 2), (2, 3)]),
    ],
    ids=["far_apart", "adjacent_above_2e53"],
)
def test_lpa_64bit_labels(spark, ids, pairs):
    """The max|Δ| stop metric is exact on any 64-bit labels: no
    overflow, and a change by 1 is not lost. Relabelling ids in sorted
    order keeps every count and smallest-label tie, so the oracle runs
    on ranks 0..3."""
    edges = spark.createDataFrame([(ids[a], ids[b]) for a, b in pairs], "src long, dst long")
    want = oracles.lpa(np.array(pairs), len(ids), max_iters=5)
    got = {r["id"]: r["label"] for r in label_propagation(edges, max_iters=5).collect()}
    assert got == {ids[i]: ids[int(want[i])] for i in range(len(ids))}


def test_lpa_fixed_point_validity(spark):
    """Every vertex's final label is a modal label among its neighbors."""
    g = GRAPHS["g_plaw_n1000"]
    vertices = spark.range(g.n).select("id")
    got = _col(label_propagation(graph_to_spark(spark, g), vertices, max_iters=20), "label", g.n)
    expected = oracles.lpa(g.edges, g.n, max_iters=20)
    assert got == expected.tolist()


# each triangle test runs twice: on the default (broadcast closed-wedge)
# stream, and as its *_exchange twin on the merge/shuffle-hash stream
TRIANGLE_TOTALS = [("g_tri", 4), ("g_line", 0), ("g_two_comp", 2), ("g_cycle", 0)]
PER_VERTEX_GRAPHS = ["g_tri", "g_er_n100", "g_plaw_n1000"]


@pytest.mark.parametrize("name,total", TRIANGLE_TOTALS)
def test_triangle_totals(spark, name, total):
    g = GRAPHS[name]
    assert triangle_total(graph_to_spark(spark, g)) == total


@pytest.mark.parametrize("name,total", TRIANGLE_TOTALS)
def test_triangle_totals_exchange(spark, triangle_exchange, name, total):
    test_triangle_totals(spark, name, total)


@pytest.mark.parametrize("name", PER_VERTEX_GRAPHS)
def test_triangle_per_vertex(spark, name):
    g = GRAPHS[name]
    per, tot = oracles.triangles(g.edges, g.n)
    vertices = spark.range(g.n).select("id")
    got = _col(triangle_counts(graph_to_spark(spark, g), vertices), "tri_count", g.n)
    assert got == per.tolist()
    assert triangle_total(graph_to_spark(spark, g)) == tot


@pytest.mark.parametrize("name", PER_VERTEX_GRAPHS)
def test_triangle_per_vertex_exchange(spark, triangle_exchange, name):
    test_triangle_per_vertex(spark, name)


def test_k_core_matches_oracle(spark):
    """k-core peel (fixed point AND fixed rounds) vs the set-based
    oracle on the fixture zoo, several k."""
    from fog_spark.algorithms.kcore import k_core
    from fog_spark.fixtures import graph_to_spark, make_er_graph, named_graphs
    from fog_spark import oracles

    for gname in ("g_er_n100", "g_two_comp", "g_plaw_n1000"):
        g = named_graphs()[gname]
        edges = graph_to_spark(spark, g)
        vertices = spark.range(g.n).select("id")
        for k in (1, 2, 3, 5):
            got = {r["id"]: r["degree"] for r in k_core(edges, k, vertices).collect()}
            assert got == oracles.k_core(g.edges, g.n, k), (gname, k)
        got2 = {r["id"]: r["degree"] for r in k_core(edges, 3, vertices, rounds=1).collect()}
        assert got2 == oracles.k_core(g.edges, g.n, 3, rounds=1), (gname, "r1")


def test_random_walks_validity_and_determinism(spark):
    """Every hop follows a real edge, walks stop only at sinks, and the
    corpus is bit-identical across runs (hash-driven, not RNG)."""
    import pandas as pd

    from fog_spark.algorithms.walks import random_walks

    pairs = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (4, 0), (1, 0)]
    edges = spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
    eset = set(pairs)
    rows = random_walks(edges, length=6, seed=7).collect()
    walks: dict = {}
    for r in rows:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    assert set(walks) == {0, 1, 2, 3, 4}
    for wid, path in walks.items():
        assert path[0] == wid
        for t in range(1, max(path) + 1):
            assert (path[t - 1], path[t]) in eset  # real edge each hop
        if max(path) < 6:  # early stop ONLY at the sink (vertex 3)
            assert path[max(path)] == 3
    again = sorted((r["walk_id"], r["step"], r["vertex"]) for r in
                   random_walks(edges, length=6, seed=7).collect())
    assert again == sorted((r["walk_id"], r["step"], r["vertex"]) for r in rows)
    diff = random_walks(edges, length=6, seed=8).collect()
    assert sorted((r["walk_id"], r["step"], r["vertex"]) for r in diff) != again


def test_node2vec_p1q1_equals_deepwalk(spark):
    """With p=q=1 every scaled weight is 1 and the cumulative-weight
    pick reduces to the uniform index pick: node2vec_walks must return
    the EXACT corpus random_walks returns (same hash stream)."""
    from fog_spark.algorithms.walks import node2vec_walks, random_walks

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (3, 0), (1, 0), (3, 2)],
        "src long, dst long")
    a = sorted(map(tuple, random_walks(edges, length=5, seed=9).collect()))
    b = sorted(map(tuple, node2vec_walks(edges, length=5, p=1, q=1, seed=9).collect()))
    assert a == b and len(a) > 0


def test_node2vec_bias_replayed_in_python(spark):
    """Every biased hop must match a python replay of the documented
    pick: scaled integer weights (q, p*q, p) for (return, dist-1,
    dist-2) over the dst-ordered neighborhood, r = md5 mod total."""
    import hashlib

    from fog_spark.algorithms.walks import node2vec_walks

    raw = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (3, 0), (1, 0), (3, 2), (1, 3)]
    p, q, seed, length = 2, 3, 13, 5
    edges = spark.createDataFrame(raw, "src long, dst long")
    adj: dict[int, list[int]] = {}
    eset = set(raw)
    for s, d in sorted(set(raw)):
        adj.setdefault(s, []).append(d)
    rows = node2vec_walks(edges, length=length, p=p, q=q, seed=seed).collect()
    walks: dict[int, dict[int, int]] = {}
    for r in rows:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    assert set(walks) == {0, 1, 2, 3}
    n_biased_hops = 0
    for wid, path in walks.items():
        assert path[0] == wid
        # step 1: uniform index pick
        nbrs = adj[path[0]]
        r1 = int(hashlib.md5(f"{wid}-1-{seed}".encode()).hexdigest()[:8], 16)
        assert path[1] == nbrs[r1 % len(nbrs)]
        prev, cur = path[0], path[1]
        for t in range(2, length + 1):
            if cur not in adj:
                assert t not in path
                break
            cands = adj[cur]
            ws = [q if x == prev else (p * q if (prev, x) in eset else p) for x in cands]
            if len(set(ws)) > 1:
                n_biased_hops += 1
            r = int(hashlib.md5(f"{wid}-{t}-{seed}".encode()).hexdigest()[:8], 16) % sum(ws)
            cum = 0
            for x, w in zip(cands, ws):
                cum += w
                if r < cum:
                    expected = x
                    break
            assert path[t] == expected, (wid, t, path[t], expected)
            prev, cur = cur, path[t]
    assert n_biased_hops > 0  # the fixture must actually exercise the bias


def test_node2vec_rejection_replayed_in_python(spark):
    """KnightKing-style rejection sampler: every hop — accepted draw,
    rejected attempts, and the exact-fallback residue — must match a
    python replay of the tagged hash streams."""
    import hashlib

    from fog_spark.algorithms.walks import node2vec_walks_rejection

    raw = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (3, 0), (1, 0), (3, 2), (1, 3)]
    p, q, seed, length, attempts = 2, 3, 5, 5, 2
    big_w = max(q, p * q, p)
    edges = spark.createDataFrame(raw, "src long, dst long")
    adj: dict[int, list[int]] = {}
    eset = set(raw)
    for s, d in sorted(set(raw)):
        adj.setdefault(s, []).append(d)

    def h(wid, tag):
        return int(hashlib.md5(f"{wid}-{tag}-{seed}".encode()).hexdigest()[:8], 16)

    rows = node2vec_walks_rejection(
        edges, length=length, p=p, q=q, seed=seed, attempts=attempts).collect()
    walks: dict[int, dict[int, int]] = {}
    for r in rows:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    assert set(walks) == {0, 1, 2, 3}
    n_fallbacks = n_rejects = 0
    for wid, path in walks.items():
        assert path[0] == wid
        nbrs = adj[path[0]]
        assert path[1] == nbrs[h(wid, "1:c") % len(nbrs)]
        prev, cur = path[0], path[1]
        for t in range(2, length + 1):
            if cur not in adj:
                assert t not in path
                break
            cands = adj[cur]

            def weight(x):
                return q if x == prev else (p * q if (prev, x) in eset else p)

            expected = None
            for a in range(attempts):
                cand = cands[h(wid, f"{t}:{a}:c") % len(cands)]
                if h(wid, f"{t}:{a}:r") % big_w < weight(cand):
                    expected = cand
                    break
                n_rejects += 1
            if expected is None:  # exact cumulative fallback
                n_fallbacks += 1
                ws = [weight(x) for x in cands]
                r = h(wid, f"{t}:f") % sum(ws)
                cum = 0
                for x, w in zip(cands, ws):
                    cum += w
                    if r < cum:
                        expected = x
                        break
            assert path[t] == expected, (wid, t, path[t], expected)
            prev, cur = cur, path[t]
    # the fixture must exercise all three paths
    assert n_rejects > 0 and n_fallbacks > 0


def test_common_neighbor_scores_hand_computed(spark):
    """Path a-w1-b plus a-w2-b square: (a,b) share {w1, w2}; existing
    edges are excluded; scores match hand math; the degree cap drops
    pairs witnessed only by capped hubs."""
    import math

    from fog_spark.algorithms.linkpred import common_neighbor_scores

    # square 0-1-2-3-0 (undirected via symmetrize): 0 and 2 share {1,3}
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long")
    rows = {(r["a"], r["b"]): r for r in common_neighbor_scores(edges).collect()}
    assert set(rows) == {(0, 2), (1, 3)}
    r = rows[(0, 2)]
    assert r["common"] == 2 and r["pref_attach"] == 4
    assert abs(r["jaccard"] - 2 / (2 + 2 - 2)) < 1e-12
    assert abs(r["adamic_adar"] - 2 / math.log(2)) < 1e-12

    # star center 4 with leaves 5..9: all leaf pairs witnessed ONLY by
    # the center; capping it below its degree kills every candidate
    star = spark.createDataFrame([(4, x) for x in range(5, 10)], "src long, dst long")
    assert common_neighbor_scores(star).count() == 10  # C(5,2) leaf pairs
    assert common_neighbor_scores(star, max_degree=4).count() == 0


def test_weighted_walks_replayed_in_python(spark):
    """Edge-weight-proportional walks (rejection + exact fallback) must
    match a python replay: uniform draw, accept iff hash mod w_max <
    w(edge), first accept wins; residue -> cumulative weighted pick."""
    import hashlib

    from fog_spark.algorithms.walks import weighted_random_walks

    raw = [(0, 1, 0.1), (0, 2, 0.9), (1, 2, 0.5), (2, 0, 0.3),
           (2, 3, 0.7), (3, 0, 1.0), (1, 0, 0.2)]
    seed, length, attempts, scale = 3, 5, 2, 10
    edges = spark.createDataFrame(raw, "src long, dst long, weight double")
    adj: dict[int, list[tuple[int, int]]] = {}
    for s, d, w in sorted(raw):
        adj.setdefault(s, []).append((d, round(w * scale)))
    w_max = max(w for nbrs in adj.values() for _, w in nbrs)

    def h(wid, tag):
        return int(hashlib.md5(f"{wid}-{tag}-{seed}".encode()).hexdigest()[:8], 16)

    rows = weighted_random_walks(
        edges, length=length, weight_scale=scale, seed=seed, attempts=attempts).collect()
    walks: dict[int, dict[int, int]] = {}
    for r in rows:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    assert set(walks) == {0, 1, 2, 3}
    n_fb = 0
    for wid, path in walks.items():
        cur = path[0]
        assert cur == wid
        for t in range(1, length + 1):
            if cur not in adj:
                assert t not in path
                break
            nbrs = adj[cur]
            expected = None
            for a in range(attempts):
                cand, w = nbrs[h(wid, f"{t}:{a}:c") % len(nbrs)]
                if h(wid, f"{t}:{a}:r") % w_max < w:
                    expected = cand
                    break
            if expected is None:
                n_fb += 1
                tot = sum(w for _, w in nbrs)
                r = h(wid, f"{t}:f") % tot
                cum = 0
                for cand, w in nbrs:
                    cum += w
                    if r < cum:
                        expected = cand
                        break
            assert path[t] == expected, (wid, t, path[t], expected)
            cur = path[t]
    assert n_fb > 0  # low weights + 2 attempts must exercise the fallback


def test_cocitation_coupling_brute_force(spark):
    import itertools
    import random

    import pandas as pd

    from fog_spark.algorithms.linkpred import cocitation_coupling

    rng = random.Random(11)
    E = list({(rng.randrange(25), rng.randrange(25)) for _ in range(120)})
    E = [(a, b) for a, b in E if a != b]
    df = spark.createDataFrame(pd.DataFrame(E, columns=["src", "dst"]))
    got = {(r["a"], r["b"]): (r["cocited"], r["coupled"])
           for r in cocitation_coupling(df).collect()}

    outs, ins = {}, {}
    for s, d in E:
        outs.setdefault(s, set()).add(d)
        ins.setdefault(d, set()).add(s)
    verts = sorted({v for e in E for v in e})
    exp = {}
    for a, b in itertools.combinations(verts, 2):
        co = len(ins.get(a, set()) & ins.get(b, set()))
        cp = len(outs.get(a, set()) & outs.get(b, set()))
        if co or cp:
            exp[(a, b)] = (co, cp)
    assert got == exp

    # hub cap: a center citing 6 docs emits no pairs when capped below 6
    star = spark.createDataFrame(
        pd.DataFrame([(99, i) for i in range(6)], columns=["src", "dst"])
    )
    assert cocitation_coupling(star).count() == 15  # C(6,2)
    assert cocitation_coupling(star, max_degree=5).count() == 0


def test_related_pages_brute_force(spark):
    """related_pages vs a brute-force in-neighborhood Jaccard + top-k."""
    import itertools

    from fog_spark.algorithms.linkpred import related_pages

    g = make_er_graph(n=40, p=0.08, seed=13)
    pairs = [(int(s), int(t)) for s, t in g.edges if s != t]
    df = spark.createDataFrame(pairs, ["src", "dst"])

    innb: dict[int, set[int]] = {}
    for s, t in set(pairs):
        innb.setdefault(t, set()).add(s)
    expected: dict[int, list[tuple]] = {}
    scored: dict[int, list] = {}
    for a, b in itertools.combinations(sorted(innb), 2):
        common = len(innb[a] & innb[b])
        if common == 0:
            continue  # wedge join only emits co-cited pairs
        jac = round(common / len(innb[a] | innb[b]), 6)
        scored.setdefault(a, []).append((-jac, b, common))
        scored.setdefault(b, []).append((-jac, a, common))
    for page, lst in scored.items():
        lst.sort()
        expected[page] = [
            (other, common, -negjac, rank + 1)
            for rank, (negjac, other, common) in enumerate(lst[:3])
        ]

    got: dict[int, list[tuple]] = {}
    for r in related_pages(df, k=3).orderBy("page", "rank").collect():
        got.setdefault(r["page"], []).append(
            (r["related"], r["cocited"], r["jaccard_r"], r["rank"])
        )
    assert got == expected


def test_related_pages_hub_cap(spark):
    """A citing hub above max_degree contributes no candidate pairs."""
    from fog_spark.algorithms.linkpred import related_pages

    star = spark.createDataFrame([(99, i) for i in range(6)], ["src", "dst"])
    assert related_pages(star).count() == 30  # 6 pages x 5 relateds
    assert related_pages(star, max_degree=5).count() == 0


def test_four_clique_total_brute_force(spark):
    import itertools

    from fog_spark.algorithms.triangles import four_clique_total

    g = make_er_graph(n=25, p=0.3, seed=3)
    pairs = {(int(min(s, t)), int(max(s, t))) for s, t in g.edges if s != t}
    df = spark.createDataFrame(sorted(pairs), ["src", "dst"])
    adj = {v: set() for v in range(25)}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    expected = sum(
        1
        for q in itertools.combinations(range(25), 4)
        if all(y in adj[x] for x, y in itertools.combinations(q, 2))
    )
    assert four_clique_total(df).collect()[0]["n_4cliques"] == expected
    assert expected > 0  # fixture sanity: the ER draw actually has 4-cliques


def test_four_clique_total_brute_force_exchange(spark, triangle_exchange):
    test_four_clique_total_brute_force(spark)


def test_four_clique_known_graphs(spark):
    from fog_spark.algorithms.triangles import four_clique_total

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    assert four_clique_total(
        spark.createDataFrame(k5, ["src", "dst"])
    ).collect()[0]["n_4cliques"] == 5  # C(5,4)
    c6 = [(i, (i + 1) % 6) for i in range(6)]
    assert four_clique_total(
        spark.createDataFrame(c6, ["src", "dst"])
    ).collect()[0]["n_4cliques"] == 0


def test_knn_degree_hand_graph(spark):
    """knn(k) curve on a star + triangle, against hand arithmetic."""
    from pyspark.sql import functions as F

    und = [(0, i) for i in range(1, 6)] + [(10, 11), (10, 12), (11, 12)]
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sorted(sym), ["src", "dst"])
    deg = df.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    ann = (
        df.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("sdeg")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddeg")), "dst")
        .groupBy("src", "sdeg")
        .agg(F.avg("ddeg").alias("ann"))
    )
    curve = {
        r["deg"]: (r["n"], r["knn"])
        for r in ann.groupBy(F.col("sdeg").alias("deg"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("ann"), 6).alias("knn"))
        .collect()
    }
    assert curve == {1: (5, 5.0), 5: (1, 1.0), 2: (3, 2.0)}
