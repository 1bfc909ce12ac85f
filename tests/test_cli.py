"""CLI surface (fog's `-g/-a/-p` shape, fogsrc/main.cpp:137-251)."""

from fog_spark.cli import main
from fog_spark.fixtures import named_graphs


def _write_edgelist(tmp_path, g):
    p = tmp_path / "g.txt"
    p.write_text("".join(f"{s}\t{d}\n" for s, d in g.edges))
    return str(p)


def test_cli_pagerank_to_parquet(spark, tmp_path):
    g = named_graphs()["g_er_n100"]
    out = str(tmp_path / "ranks")
    rc = main(
        ["--graph", _write_edgelist(tmp_path, g), "--format", "edgelist",
         "--app", "pagerank", "--niters", "3", "--out", out],
        spark=spark,
    )
    assert rc == 0
    got = {r["id"]: r["rank"] for r in spark.read.parquet(out).collect()}
    from fog_spark.algorithms.pagerank import pagerank_fog
    from fog_spark.sources.edgelist import read_edgelist

    expect = {
        r["id"]: r["rank"]
        for r in pagerank_fog(read_edgelist(spark, _write_edgelist(tmp_path, g)), niters=3).collect()
    }
    assert got == expect


def test_cli_cc_with_resume_dir(spark, tmp_path):
    g = named_graphs()["g_two_comp"]
    out = str(tmp_path / "comps")
    rc = main(
        ["--graph", _write_edgelist(tmp_path, g), "--app", "cc",
         "--out", out, "--run-dir", str(tmp_path / "ckpt")],
        spark=spark,
    )
    assert rc == 0
    comps = {r["id"]: r["component"] for r in spark.read.parquet(out).collect()}
    assert comps[0] == comps[1] == comps[2] == 0
    assert comps[3] == comps[4] == comps[5] == 3
    # the run dir holds committed supersteps (resumable)
    from fog_spark.engine.checkpoint import RunContext

    assert RunContext(spark, str(tmp_path / "ckpt"), "run0").resume_point() is not None


def test_cli_run_dir_is_written_only_by_checkpointing_apps(spark, tmp_path):
    """--run-dir with an app that never checkpoints leaves no metrics
    dir that would pass for a checkpointed run; cc still writes its
    metric records."""
    g = named_graphs()["g_two_comp"]
    path = _write_edgelist(tmp_path, g)
    for app in ("mis", "cc"):
        run_dir = tmp_path / f"ck-{app}"
        rc = main(["--graph", path, "--app", app, "--out", str(tmp_path / app),
                   "--run-dir", str(run_dir)], spark=spark)
        assert rc == 0
    assert not (tmp_path / "ck-mis" / "run0" / "metrics").exists()
    assert list((tmp_path / "ck-cc" / "run0" / "metrics").glob("step=*.json"))


def test_cli_keep_last_vacuums(spark, tmp_path):
    g = named_graphs()["g_er_n100"]
    rc = main(
        ["--graph", _write_edgelist(tmp_path, g), "--app", "pagerank",
         "--niters", "5", "--out", str(tmp_path / "r"),
         "--run-dir", str(tmp_path / "ck"), "--keep-last", "2"],
        spark=spark,
    )
    assert rc == 0
    from fog_spark.engine import fs

    kept = sorted(n for n in fs.list_names(spark, str(tmp_path / "ck" / "run0" / "state"))
                  if n[5:].isdigit())
    assert kept == ["step=00004", "step=00005"]


def test_cli_walks_and_node2vec(spark, tmp_path):
    g = named_graphs()["g_er_n100"]
    path = _write_edgelist(tmp_path, g)
    out = str(tmp_path / "walks")
    rc = main(["--graph", path, "--app", "walks", "--length", "3",
               "--seed", "7", "--out", out], spark=spark)
    assert rc == 0
    from fog_spark.algorithms.walks import node2vec_walks, random_walks
    from fog_spark.sources.edgelist import read_edgelist

    expect = sorted(map(tuple, random_walks(
        read_edgelist(spark, path), length=3, seed=7).collect()))
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == expect

    out2 = str(tmp_path / "n2v")
    rc = main(["--graph", path, "--app", "node2vec", "--length", "3",
               "--p", "2", "--q", "3", "--seed", "7", "--out", out2], spark=spark)
    assert rc == 0
    expect2 = sorted(map(tuple, node2vec_walks(
        read_edgelist(spark, path), length=3, p=2, q=3, seed=7).collect()))
    assert sorted(map(tuple, spark.read.parquet(out2).collect())) == expect2


def test_cli_ppr(spark, tmp_path):
    g = named_graphs()["g_er_n100"]
    path = _write_edgelist(tmp_path, g)
    out = str(tmp_path / "ppr")
    rc = main(["--graph", path, "--app", "ppr", "--seeds", "0,7",
               "--tol", "1e-8", "--out", out], spark=spark)
    assert rc == 0
    got = {r["id"]: r["rank"] for r in spark.read.parquet(out).collect()}
    from fog_spark import oracles

    expect, _ = oracles.pagerank_personalized(g.edges, g.n, [0, 7], tol=1e-8)
    assert all(abs(got[i] - expect[i]) < 1e-6 for i in range(g.n))


def test_cli_table_apps(spark, tmp_path):
    import pandas as pd

    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1], "text": ["alpha beta beta", "alpha gamma"]})
    ).write.parquet(docs)
    out = str(tmp_path / "tfidf")
    rc = main(["--graph", docs, "--app", "tfidf", "--topk", "2", "--out", out], spark=spark)
    assert rc == 0
    terms = {(r["id"], r["rank"]): r["term"] for r in spark.read.parquet(out).collect()}
    assert terms[(0, 1)] == "beta"  # tf=2 AND rare beats the shared term

    left = str(tmp_path / "l.parquet")
    right = str(tmp_path / "r.parquet")
    spark.createDataFrame(
        [(1, 10.0, 100.0)], "k long, ts double, v double").write.parquet(left)
    spark.createDataFrame(
        [(1, 9.0, 7.0), (1, 11.0, 8.0)], "k long, ts double, rv double").write.parquet(right)
    out2 = str(tmp_path / "asof")
    rc = main(["--graph", left, "--app", "asof", "--right", right,
               "--on", "k", "--out", out2], spark=spark)
    assert rc == 0
    rows = spark.read.parquet(out2).collect()
    assert len(rows) == 1 and rows[0]["rv_r"] == 7.0  # ts=9 matched, 11 is future


def test_cli_node2vec_rejection_sampler(spark, tmp_path):
    g = named_graphs()["g_er_n100"]
    path = _write_edgelist(tmp_path, g)
    out = str(tmp_path / "n2vr")
    rc = main(["--graph", path, "--app", "node2vec", "--sampler", "rejection",
               "--length", "3", "--p", "2", "--q", "3", "--attempts", "4",
               "--seed", "7", "--out", out], spark=spark)
    assert rc == 0
    from fog_spark.algorithms.walks import node2vec_walks_rejection
    from fog_spark.sources.edgelist import read_edgelist

    expect = sorted(map(tuple, node2vec_walks_rejection(
        read_edgelist(spark, path), length=3, p=2, q=3, seed=7, attempts=4).collect()))
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == expect


def test_cli_msbfs_and_linkpred(spark, tmp_path):
    g = named_graphs()["g_dag"]
    path = _write_edgelist(tmp_path, g)
    out = str(tmp_path / "ms")
    rc = main(["--graph", path, "--app", "msbfs", "--seeds", "0,2", "--out", out], spark=spark)
    assert rc == 0
    from fog_spark.algorithms.msbfs import multi_source_bfs
    from fog_spark.sources.edgelist import read_edgelist

    expect = sorted(map(tuple, multi_source_bfs(read_edgelist(spark, path), [0, 2]).collect()))
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == expect

    out2 = str(tmp_path / "lp")
    rc = main(["--graph", path, "--app", "linkpred", "--min-common", "1", "--out", out2], spark=spark)
    assert rc == 0
    from fog_spark.algorithms.linkpred import common_neighbor_scores

    expect2 = sorted(map(tuple, common_neighbor_scores(read_edgelist(spark, path)).collect()))
    assert sorted(map(tuple, spark.read.parquet(out2).collect())) == expect2


def test_cli_msf_louvain_betweenness(spark, tmp_path):
    import pandas as pd

    g = named_graphs()["g_dag"]
    path = _write_edgelist(tmp_path, g)

    # msf needs weights: parquet edge input with a deterministic weight
    pdf = pd.DataFrame(g.edges, columns=["src", "dst"])
    pdf["weight"] = (pdf["src"] * 7 + pdf["dst"] * 3) % 10 + 1.0
    wpath = str(tmp_path / "wedges")
    spark.createDataFrame(pdf).write.parquet(wpath)
    out = str(tmp_path / "msf")
    rc = main(["--graph", wpath, "--format", "parquet", "--app", "msf", "--out", out], spark=spark)
    assert rc == 0
    from fog_spark.algorithms.msf import minimum_spanning_forest

    expect = sorted(map(tuple, minimum_spanning_forest(spark.createDataFrame(pdf)).collect()))
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == expect

    out2 = str(tmp_path / "lv")
    rc = main(["--graph", path, "--app", "louvain", "--niters", "2", "--out", out2], spark=spark)
    assert rc == 0
    from fog_spark.algorithms.community import louvain_local_move
    from fog_spark.sources.edgelist import read_edgelist

    expect2 = sorted(map(tuple, louvain_local_move(read_edgelist(spark, path), rounds=2).collect()))
    assert sorted(map(tuple, spark.read.parquet(out2).collect())) == expect2

    out3 = str(tmp_path / "bc")
    rc = main(
        ["--graph", path, "--app", "betweenness", "--seeds", "0,1", "--out", out3],
        spark=spark,
    )
    assert rc == 0
    got = {r["id"]: r["bc"] for r in spark.read.parquet(out3).collect()}
    from tests.test_betweenness import brandes_deltas

    E = [(int(s), int(d)) for s, d in g.edges]
    n = len({u for e in E for u in e})
    want = {}
    for (v, root), (dist, delta) in brandes_deltas(E, [0, 1]).items():
        if dist > 0:
            want[v] = want.get(v, 0.0) + delta * n / 2
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k


def test_cli_dedup_pipeline(spark, tmp_path):
    import pandas as pd

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                base,
                base + " extra",           # near-dup of 1
                "completely different words about spark streaming engines",
                base.replace("quick", "quick very"),  # near-dup of 1
                "another unrelated document mentioning graphs and walks",
            ],
        }
    )
    dpath = str(tmp_path / "docs")
    spark.createDataFrame(docs).write.parquet(dpath)
    out = str(tmp_path / "dedup")
    rc = main(
        ["--graph", dpath, "--format", "parquet", "--app", "dedup",
         "--minhash-k", "4", "--bands", "2", "--threshold", "0.5", "--out", out],
        spark=spark,
    )
    assert rc == 0
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"], r["n_members"])
           for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    # 1, 2, 4 cluster together; 3 and 5 stay singleton canonicals
    assert got[1][0] == got[2][0] == got[4][0]
    assert got[1][2] == 3
    assert got[3][1] and got[5][1] and got[3][2] == 1 and got[5][2] == 1
    assert sum(1 for c, canon, n in got.values() if canon) == 3


def test_cli_ktruss(spark, tmp_path):
    g = named_graphs()["g_er_n100"]
    path = _write_edgelist(tmp_path, g)
    out = str(tmp_path / "kt")
    rc = main(["--graph", path, "--app", "ktruss", "--k", "3", "--out", out], spark=spark)
    assert rc == 0
    from fog_spark.algorithms.ktruss import k_truss
    from fog_spark.sources.edgelist import read_edgelist

    expect = sorted(map(tuple, k_truss(read_edgelist(spark, path), 3).collect()))
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == expect


def test_cli_coreness(spark, tmp_path):
    g = named_graphs()["g_er_n100"]
    path = _write_edgelist(tmp_path, g)
    out = str(tmp_path / "cn")
    rc = main(["--graph", path, "--app", "coreness", "--out", out], spark=spark)
    assert rc == 0
    from tests.test_coreness import py_coreness

    E = [(int(s), int(d)) for s, d in g.edges]
    want = py_coreness(E)
    got = {r["id"]: r["coreness"] for r in spark.read.parquet(out).collect()}
    for v, c in want.items():
        assert got[v] == c, v


def test_cli_mis_katz(spark, tmp_path):
    g = named_graphs()["g_er_n100"]
    path = _write_edgelist(tmp_path, g)

    out = str(tmp_path / "mis")
    rc = main(["--graph", path, "--app", "mis", "--out", out], spark=spark)
    assert rc == 0
    rows = spark.read.parquet(out).collect()
    from tests.test_mis import py_mis

    E = [(int(s), int(d)) for s, d in g.edges]
    want = py_mis(E, salt=42)  # CLI passes --seed (default 42) as the salt
    assert {r["id"]: (r["in_mis"], r["round"]) for r in rows} == want

    out2 = str(tmp_path / "katz")
    rc = main(["--graph", path, "--app", "katz", "--niters", "4", "--out", out2],
              spark=spark)
    assert rc == 0
    from tests.test_katz import np_katz

    n = max(max(a, b) for a, b in E) + 1
    exp = np_katz(E, n, 0.1, 1.0, 4)
    got = {r["id"]: r["katz"] for r in spark.read.parquet(out2).collect()}
    for v in got:
        assert abs(got[v] - exp[v]) < 1e-9


def test_cli_bowtie_related_influence(spark, tmp_path):
    g = named_graphs()["g_dag"]
    path = _write_edgelist(tmp_path, g)
    from fog_spark.sources.edgelist import read_edgelist

    out = str(tmp_path / "bt")
    rc = main(["--graph", path, "--app", "bowtie", "--out", out], spark=spark)
    assert rc == 0
    from fog_spark.algorithms.bowtie import bowtie_decomposition

    expect = sorted(map(tuple, bowtie_decomposition(read_edgelist(spark, path)).collect()))
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == expect

    out2 = str(tmp_path / "rel")
    rc = main(["--graph", path, "--app", "related", "--topk", "2", "--out", out2], spark=spark)
    assert rc == 0
    from fog_spark.algorithms.linkpred import related_pages

    expect2 = sorted(map(tuple, related_pages(read_edgelist(spark, path), k=2).collect()))
    assert sorted(map(tuple, spark.read.parquet(out2).collect())) == expect2

    out3 = str(tmp_path / "ic")
    rc = main(
        ["--graph", path, "--app", "influence", "--seeds", "0,1",
         "--prob", "0.5", "--samples", "2", "--out", out3],
        spark=spark,
    )
    assert rc == 0
    from fog_spark.algorithms.cascade import HASH_DEN, influence_spread

    seeds = spark.createDataFrame([(0,), (1,)], ["root"])
    expect3 = sorted(map(tuple, influence_spread(
        read_edgelist(spark, path), seeds, p_num=int(0.5 * HASH_DEN), samples=2
    ).collect()))
    assert sorted(map(tuple, spark.read.parquet(out3).collect())) == expect3


def test_cli_pack(spark, tmp_path):
    import pandas as pd

    docs = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["one two three", "", "four five six seven"]}
    )
    dpath = str(tmp_path / "docs")
    spark.createDataFrame(docs).write.parquet(dpath)
    out = str(tmp_path / "packed")
    rc = main(
        ["--graph", dpath, "--format", "parquet", "--app", "pack",
         "--window", "4", "--out", out],
        spark=spark,
    )
    assert rc == 0
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    # corpus = 3 + 4 tokens; windows of 4: doc1[0:3], doc3[0:1] fill bin 0, doc3[1:4] bin 1
    assert got == [(0, 1, 0, 0, 3), (0, 3, 0, 3, 1), (1, 3, 1, 0, 3)]


def test_cli_round5_apps(spark, tmp_path):
    g = named_graphs()["g_er_n100"]
    path = _write_edgelist(tmp_path, g)
    from fog_spark.sources.edgelist import read_edgelist

    out = str(tmp_path / "tc")
    assert main(["--graph", path, "--app", "triads", "--out", out], spark=spark) == 0
    from fog_spark.algorithms.triads import triad_census

    expect = sorted(map(tuple, triad_census(read_edgelist(spark, path)).collect()))
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == expect

    out2 = str(tmp_path / "sp")
    assert main(
        ["--graph", path, "--app", "spread", "--seeds", "0:7,5:9", "--niters", "2", "--out", out2],
        spark=spark,
    ) == 0
    from fog_spark.algorithms.labelspread import label_spreading

    sdf = spark.createDataFrame([(0, 7), (5, 9)], "id long, label long")
    expect2 = sorted(map(tuple, label_spreading(read_edgelist(spark, path), sdf, rounds=2).collect()))
    assert sorted(map(tuple, spark.read.parquet(out2).collect())) == expect2

    out3 = str(tmp_path / "pc")
    assert main(
        ["--graph", path, "--app", "percolation", "--probs", "0.5,1.0", "--out", out3],
        spark=spark,
    ) == 0
    assert spark.read.parquet(out3).count() == 2


def test_cli_bpe_app(spark, tmp_path):
    import pandas as pd

    docs = pd.DataFrame({"doc_id": [0, 1], "text": ["aa ab aab", "ab ab aa"]})
    dpath = str(tmp_path / "docs")
    spark.createDataFrame(docs).write.parquet(dpath)
    out = str(tmp_path / "bpe")
    assert main(
        ["--graph", dpath, "--format", "parquet", "--app", "bpe", "--niters", "2", "--out", out],
        spark=spark,
    ) == 0
    rows = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert len(rows) == 2 and rows[0][0] == 1
