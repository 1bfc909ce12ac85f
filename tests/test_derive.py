"""Edge derivation: ground-truth edge set, sha invariant, id density."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fog_spark.fixtures import make_repo_table
from fog_spark.graph.derive import (
    assign_dense_ids,
    derive_graph,
    with_content_sha,
)


def _edge_paths(spark, g):
    s = g.files.select(F.col("id").alias("src"), F.col("repo").alias("r"), F.col("path").alias("src_path"))
    d = g.files.select(F.col("id").alias("dst"), F.col("path").alias("dst_path"))
    return (
        g.edges.join(s, "src").join(d, "dst").select("r", "src_path", "dst_path")
    )


# ids name the JVM builtin (regexp) extractor that derive_graph runs
@pytest.mark.parametrize(
    "n_repos,n_files,regime",
    [(2, 16, "power-law"), (2, 16, "uniform"), (3, 24, "power-law")],
    ids=["builtin-power-law", "builtin-uniform", "builtin-power-law-3x24"],
)
def test_derived_edges_match_ground_truth(spark, n_repos, n_files, regime):
    repos_pd, truth = make_repo_table(n_repos, n_files, regime=regime)
    g = derive_graph(spark.createDataFrame(repos_pd))
    got = {(r["r"], r["src_path"], r["dst_path"]) for r in _edge_paths(spark, g).collect()}
    want = {tuple(t) for t in truth.itertuples(index=False)}
    assert got == want  # no cross-repo leakage (regression: self-join ambiguity)


def test_sha_invariant_and_dense_ids(spark):
    repos_pd, _ = make_repo_table(2, 16)
    repos = spark.createDataFrame(repos_pd)
    before = {(r["repo"], r["path"]): r["content_sha"] for r in with_content_sha(repos).collect()}
    g = derive_graph(repos)
    after = {(r["repo"], r["path"]): r["content_sha"] for r in with_content_sha(repos).collect()}
    assert before == after  # per-row invariant (BASELINE.json input_hint)

    ids = [r["id"] for r in assign_dense_ids(repos).collect()]
    assert sorted(ids) == list(range(len(repos_pd)))  # dense, 0-based, no dupes

    # ids are deterministic: ordered by (repo, path)
    rows = assign_dense_ids(repos).orderBy("id").collect()
    keys = [(r["repo"], r["path"]) for r in rows]
    assert keys == sorted(keys)


def test_no_imports_yields_empty_graph(spark):
    empty = spark.createDataFrame(
        pd.DataFrame(
            {
                "repo": ["r"],
                "path": ["src/a.py"],
                "commit": ["x"],
                "lang": ["python"],
                "content": ["# nothing\nx = 1\n"],
            }
        )
    )
    g = derive_graph(empty)
    assert g.edges.count() == 0
    assert g.files.count() == 1
