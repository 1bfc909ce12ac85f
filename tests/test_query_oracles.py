"""The graph queries whose Spark side runs the engine's own code — the
loops capped at k supersteps, the triangle family's shared stream and
the hash-replayed walk samplers — each against its DuckDB oracle (k
dense rounds as chained CTEs) on the sf0.001 smoke tables:
tools/check_contract.py's comparison for these queries, inside the
test suite."""

import duckdb
import pytest

from __spark_entry__ import SF_SMOKE
from fog_spark.queries import ORACLES, QUERIES
from tools.check_contract import TABLES, norm_rows

NAMES = [
    "pagerank_fog_k3",
    "pagerank_top100",
    "cc_hashmin",
    "lpa_k2",
    "bfs_k4",
    "sssp_k4",
    "scc_fwbw_k6",
    "repo_pagerank_top",
    "triangle_total",
    "ktruss4_r2",
    "triad_full",
    "random_walks_k4",
    "node2vec_k3",
    "node2vec_rej_k3",
    "weighted_walks_k3",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield c
    c.close()


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, con, name):
    sdf = QUERIES[name](spark, SF_SMOKE)
    res = con.sql(ORACLES[name])
    dcols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(dcols)
    got = norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    assert got == norm_rows(dcols, res.fetchall())
