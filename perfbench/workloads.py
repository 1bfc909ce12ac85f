"""The benchmark workloads: seeded inputs, references computed
outside Spark, set-up, one timed run, and the output checks.

Every workload draws its graph structure from a fixed generator and
applies a bijective relabeling of vertex ids chosen by ``--seed``, so
graphs stay isomorphic across seeds (every check stays exact) while
hash placement varies. The relabelings also keep the relative order of
ids wherever an algorithm breaks ties by id: LPA takes the smallest
label and hash-min CC spreads the smallest id, so an order-changing
relabeling changes how many supersteps they run (5 to 8 LPA supersteps
over eight seeds of a 2,000-part dense graph), and with it the work
measured.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np

# generator of the graph structure; the run seed only relabels ids
STRUCTURE_SEED = 42

# "bench" is what BENCHMARK.json measures (TPC-H sf0.03 part/order
# counts; a 30 x 2,000 repo table); "tiny" is the self-test scale
# (sf0.001 part/order counts; a 10 x 200 repo table)
SIZES = {
    "bench": {"parts": 6000, "orders": 45000, "repos": 30, "files": 2000},
    "tiny": {"parts": 200, "orders": 1500, "repos": 10, "files": 200},
}

PAGERANK_TOL = dict(rtol=1e-6, atol=1e-6)


def compact(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ids, edges renumbered 0..len(ids)-1) over the vertices edges touch."""
    ids, inv = np.unique(edges, return_inverse=True)
    return ids, inv.reshape(edges.shape)


def min_id_components(edges: np.ndarray, ids: np.ndarray) -> tuple[dict[int, int], int]:
    """networkx reference: vertex -> min id of its component, and the count."""
    import networkx as nx

    g = nx.Graph()
    g.add_nodes_from(ids.tolist())
    g.add_edges_from(edges.tolist())
    labels = {}
    for comp in nx.connected_components(g):
        low = min(comp)
        for v in comp:
            labels[v] = low
    return labels, nx.number_connected_components(g)


def _ranks_match(got, ids: np.ndarray, want: np.ndarray) -> bool:
    got = got.sort_values("id")
    return np.array_equal(got["id"].to_numpy(), ids) and np.allclose(got["rank"].to_numpy(), want, **PAGERANK_TOL)


def _labels_match(got, col: str, want: dict[int, int]) -> bool:
    return len(got) == len(want) and all(want.get(i) == c for i, c in zip(got["id"].tolist(), got[col].tolist()))


def _affine_bijection(rng, n: int) -> tuple[int, int]:
    """(a, b) with gcd(a, n) = 1, so i -> (a * i + b) mod n permutes 0..n-1."""
    a = int(rng.integers(1, n)) if n > 1 else 1
    while math.gcd(a, n) != 1:
        a = int(rng.integers(1, n))
    return a, int(rng.integers(0, n))


class Workload:
    name = ""

    def __init__(self, size: dict, seed: int, work: str):
        self.size, self.seed, self.work = size, seed, work
        self.m = 0

    def prepare(self, spark) -> None:
        """Inputs and references that need a session (the repo table and
        its fixture's expected-edge rule); runs after each JVM start,
        before set-up."""

    def setup(self, spark, tracer):
        raise NotImplementedError

    def run(self, spark, st, tracer) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def teardown(self, st) -> None:
        for df in st.values():
            if hasattr(df, "unpersist"):
                df.unpersist()


class CooccurDense(Workload):
    """Part co-occurrence graph of a TPC-H-shaped lineitem table: orders
    of 1-7 lines over uniformly drawn parts (sf0.03 counts at bench
    scale). The edges are derived and cached at set-up."""

    name = "cooccur-dense"

    def __init__(self, size, seed, work):
        super().__init__(size, seed, work)
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(STRUCTURE_SEED)
        lines = rng.integers(1, 8, size["orders"])
        orderkey = np.repeat(np.arange(size["orders"], dtype=np.int64), lines)
        partkey = rng.integers(0, size["parts"], orderkey.size)
        # increasing affine map: new key values (so new hash placement),
        # same id order (so the same LPA ties and CC minima)
        scale, shift = (int(x) for x in np.random.default_rng(seed).integers(1, 1_000_000, 2))
        self.sf_dir = os.path.join(work, "tables")
        os.makedirs(self.sf_dir, exist_ok=True)
        self.lineitem = os.path.join(self.sf_dir, "lineitem.parquet")
        pq.write_table(pa.table({"l_orderkey": orderkey, "l_partkey": scale * partkey + shift}), self.lineitem)
        self._reference()

    def _reference(self) -> None:
        import duckdb

        from fog_spark import oracles
        from fog_spark.queries import ORACLES, SQL_COOCCUR_EDGES

        con = duckdb.connect()
        try:
            con.execute("SET threads = 2")
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{self.lineitem}')")
            edges = con.execute(f"SELECT src, dst FROM ({SQL_COOCCUR_EDGES})").fetchnumpy()
            self.ref_cc = dict(con.execute(ORACLES["cc_hashmin"]).fetchall())
            self.ref_triangles = con.execute(ORACLES["triangle_total"]).fetchone()[0]
        finally:
            con.close()
        raw = np.stack([edges["src"], edges["dst"]], axis=1).astype(np.int64)
        self.ref_m = len(raw)
        self.ids, self.edges = compact(raw)
        e, n = self.edges, len(self.ids)
        self.ref_fog = oracles.pagerank_fog(e, n, niters=10)
        self.ref_std, _ = oracles.pagerank_standard(e, n, tol=1e-6, max_iters=60)
        self.ref_lpa = dict(zip(self.ids.tolist(), self.ids[oracles.lpa(e, n, max_iters=10)].tolist()))
        _, self.ref_components = min_id_components(raw[raw[:, 0] < raw[:, 1]], self.ids)

    def setup(self, spark, tracer):
        from fog_spark.queries import cooccur_edges

        with tracer.span("derive", "queries.cooccur_edges") as rec:
            edges = cooccur_edges(spark, self.sf_dir).persist()
            self.m = rec["edges"] = edges.count()
        return {"edges": edges}

    def run(self, spark, st, tracer):
        from fog_spark.algorithms.cc import connected_components
        from fog_spark.algorithms.lpa import label_propagation
        from fog_spark.algorithms.pagerank import pagerank_fog, pagerank_standard
        from fog_spark.algorithms.triangles import triangle_total

        e, out = st["edges"], {}
        with tracer.span("pagerank_1e6", "algorithms") as rec:
            ranks, rec["iters"] = pagerank_standard(e, tol=1e-6, max_iters=60)
            out["pagerank_1e6"] = ranks.toPandas()
        out["pagerank_1e6_iters"] = rec["iters"]
        with tracer.span("pagerank_fog10", "algorithms"):
            out["pagerank_fog10"] = pagerank_fog(e, niters=10).toPandas()
        with tracer.span("lpa", "algorithms"):
            out["lpa"] = label_propagation(e, max_iters=10).toPandas()
        with tracer.span("cc_hashmin", "algorithms"):
            out["cc_hashmin"] = connected_components(e).toPandas()
        with tracer.span("triangles", "algorithms"):
            out["triangles"] = triangle_total(e)
        return out

    def check(self, out):
        bad = []
        if self.m != self.ref_m:
            bad.append(f"derived {self.m} edges, reference {self.ref_m}")
        if not _ranks_match(out["pagerank_fog10"], self.ids, self.ref_fog):
            bad.append("pagerank_fog10 ranks differ from the numpy FOG recurrence")
        if not _ranks_match(out["pagerank_1e6"], self.ids, self.ref_std):
            bad.append("pagerank_standard ranks differ from the numpy reference")
        if not _labels_match(out["lpa"], "label", self.ref_lpa):
            bad.append("lpa labels differ from fog_spark.oracles.lpa")
        cc = out["cc_hashmin"]
        if not _labels_match(cc, "component", self.ref_cc):
            bad.append("connected components differ from the DuckDB cc_hashmin oracle")
        if cc["component"].nunique() != self.ref_components:
            bad.append("component count differs from networkx")
        if out["triangles"] != self.ref_triangles:
            bad.append(f"triangles {out['triangles']} != DuckDB {self.ref_triangles}")
        return bad


class RepoSparseDurable(Workload):
    """Spark-generated repo table (fixtures_spark) with its repos
    permuted by the seed: dense file ids move in blocks of one repo, so
    hash placement varies while each component's min-id file (where
    hash-min CC starts) stays the same. One run derives the import graph
    and runs the sparse, big-state loops with local cuts and with durable
    checkpoints, including a resume."""

    name = "repo-sparse-durable"

    def __init__(self, size, seed, work):
        super().__init__(size, seed, work)
        r, f = size["repos"], size["files"]
        self.repo_map = _affine_bijection(np.random.default_rng(seed), r)
        repo_of = (self.repo_map[0] * np.arange(r) + self.repo_map[1]) % r
        # dense ids follow (repo, path) order, and paths src/modNNNN.* sort
        # by their fixed-width module number: original (repo, file) -> id
        self.id_of = (repo_of[:, None] * f + np.arange(f)[None, :]).ravel()
        self.n = r * f
        self.table = os.path.join(work, "tables", "repos.parquet")
        self._runs = 0

    def _relabeled_table(self, spark):
        from pyspark.sql import functions as F

        from fog_spark.fixtures_spark import make_repo_table_spark

        r, (a, b) = self.size["repos"], self.repo_map
        repos = make_repo_table_spark(spark, r, self.size["files"])
        num = F.substring("repo", 5, 5).cast("long")
        return repos.withColumn("repo", F.format_string("repo%05d", F.pmod(num * a + b, F.lit(r))))

    def prepare(self, spark):
        from fog_spark import oracles
        from fog_spark.fixtures_spark import expected_edges

        self._relabeled_table(spark).write.mode("overwrite").parquet(self.table)
        f = self.size["files"]
        exp = expected_edges(spark, self.size["repos"], f).toPandas()
        ri = exp["repo"].str[4:].astype(np.int64).to_numpy()
        src = ri * f + exp["src_path"].str[7:11].astype(np.int64).to_numpy()
        dst = ri * f + exp["dst_path"].str[7:11].astype(np.int64).to_numpy()
        e = np.stack([self.id_of[src], self.id_of[dst]], axis=1)
        self.ref_edges = e[np.lexsort((e[:, 1], e[:, 0]))]
        self.ids = np.arange(self.n)
        self.ref_fog = {k: oracles.pagerank_fog(self.ref_edges, self.n, niters=k) for k in (6, 10, 12)}
        self.ref_cc, self.ref_components = min_id_components(self.ref_edges, self.ids)

    def setup(self, spark, tracer):
        repos = spark.read.parquet(self.table).persist()
        repos.count()
        return {"repos": repos}

    def run(self, spark, st, tracer):
        import time

        from fog_spark.algorithms.cc import connected_components
        from fog_spark.algorithms.pagerank import pagerank_fog
        from fog_spark.engine.checkpoint import RunContext
        from fog_spark.graph.derive import derive_graph

        self._runs += 1
        run_dir = os.path.join(self.work, f"checkpoints-{self._runs}")
        out = {}
        with tracer.span("derive", "graph.derive") as rec:
            g = derive_graph(st["repos"])
            e = g.edges.persist()
            self.m = rec["edges"] = e.count()
        v = g.vertices
        with tracer.span("pagerank_fog10", "algorithms"):
            out["pagerank_fog10"] = pagerank_fog(e, v, niters=10).toPandas()
        with tracer.span("pagerank_fog6", "algorithms"):
            out["pagerank_fog6"] = pagerank_fog(e, v, niters=6, ctx=RunContext(spark, run_dir, "pr")).toPandas()
        t0 = time.time()
        # a new RunContext on the same run dir: the restart after a crash
        with tracer.span("pagerank_fog12_resumed", "algorithms", resume=True):
            out["pagerank_fog12"] = pagerank_fog(e, v, niters=12, ctx=RunContext(spark, run_dir, "pr")).toPandas()
        out["resume_s"] = time.time() - t0
        with tracer.span("cc_hashmin", "algorithms"):
            ctx = RunContext(spark, run_dir, "cc", keep_last=2)
            out["cc_hashmin"] = connected_components(e, v, ctx=ctx).toPandas()
        out["edges"] = e.select("src", "dst").toPandas()
        e.unpersist()
        shutil.rmtree(run_dir, ignore_errors=True)
        return out

    def check(self, out):
        bad = []
        got = out["edges"].to_numpy().astype(np.int64)
        got = got[np.lexsort((got[:, 1], got[:, 0]))]
        if not np.array_equal(got, self.ref_edges):
            bad.append("derived edges differ from fixtures_spark.expected_edges")
        for key, steps in (("pagerank_fog10", 10), ("pagerank_fog6", 6)):
            if not _ranks_match(out[key], self.ids, self.ref_fog[steps]):
                bad.append(f"{key} ranks differ from the numpy FOG recurrence")
        if not _ranks_match(out["pagerank_fog12"], self.ids, self.ref_fog[12]):
            bad.append("resumed 12-step ranks differ from the uninterrupted recurrence")
        cc = out["cc_hashmin"]
        if not _labels_match(cc, "component", self.ref_cc):
            bad.append("connected components differ from the networkx min-id labels")
        if cc["component"].nunique() != self.ref_components:
            bad.append("component count differs from networkx")
        return bad


WORKLOADS = {w.name: w for w in (CooccurDense, RepoSparseDurable)}
