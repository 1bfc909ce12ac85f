"""Phase-level probes for the headline bench queries (round 6).

Isolates where each bench query's wall time goes (guide §1: measure
first): per-phase timers around the same actions bench.py runs, noop
sinks where a query's own action would hide compute, and job labels so
any UI/eventlog inspection maps back to phases.

Usage: python tools/bench_probe.py <probe> [...]
  triangles         A/B: broadcast-closure path vs merge/shuffle_hash path
  triangles_phases  orient+cache vs wedge+closure walls of triangle counting
  repo              repo pipeline phase walls (fixture, extract, ids, derive, pagerank)
  minhash           minhash_lsh_candidates walls

Whole-call walls of the superstep algorithms (pagerank, cc, lpa) come
from perfbench (``perfbench/run.py --trace 1``), which splits them per
layer from the Spark event log.

Not part of the driver contract; bench.py stays the only headline
artifact. Numbers are cited in OPTIMIZATION_r06.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fog_spark.queries import cooccur_edges, load
from fog_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


class T:
    def __init__(self):
        self.t0 = time.time()
        self.marks = []

    def mark(self, name):
        t = time.time()
        self.marks.append((name, round(t - self.t0, 3)))
        self.t0 = t

    def dump(self, label):
        total = sum(w for _, w in self.marks)
        print(f"[{label}] total={total:.3f}s")
        for name, w in self.marks:
            print(f"  {name:32s} {w:8.3f}s")


def _edges(spark):
    e = cooccur_edges(spark, SF_DIR).persist()
    n = e.count()
    print(f"edges: {n}")
    return e


def probe_triangles(spark):
    from fog_spark.algorithms import triangles as tr

    edges = _edges(spark)
    for rep in range(2):
        for label, cap in (("broadcast", 4_000_000), ("exchange", 0)):
            tr.TRIANGLE_BROADCAST_MAX_EDGES = cap
            t = T()
            spark.sparkContext.setJobDescription(f"triangles {label} rep{rep}")
            n = tr.triangle_total(edges)
            t.mark(f"triangle_total={n}")
            t.dump(f"triangles {label} rep{rep}")


def probe_triangles_phases(spark):
    from fog_spark.algorithms import triangles as tr

    edges = _edges(spark)
    for rep in range(2):
        t = T()
        o, n_o = tr._oriented_cached(tr._undirected(edges))
        t.mark(f"orient+cache+count ({n_o})")
        stream = tr._triangle_stream(o, n_o)
        n = stream.count()
        t.mark(f"wedge+closure count ({n})")
        o.unpersist()
        t.dump(f"triangles-phases rep{rep}")


def probe_repo(spark):
    from fog_spark.algorithms.pagerank import pagerank_fog
    from fog_spark.fixtures_spark import make_repo_table_spark
    from fog_spark.graph.derive import _extract_refs_builtin, assign_dense_ids, derive_graph

    for rep in range(2):
        t = T()
        repos = make_repo_table_spark(spark, n_repos=100, files_per_repo=2000)
        noop(repos)
        t.mark("fixture gen (noop)")
        refs = _extract_refs_builtin(repos)
        noop(refs)
        t.mark("extract refs (noop)")
        files = assign_dense_ids(repos)
        noop(files)
        t.mark("dense ids (noop)")
        g = derive_graph(repos)
        ge = g.edges.persist()
        n = ge.count()
        t.mark(f"edges persist+count ({n})")
        pagerank_fog(ge, g.vertices, niters=5).count()
        t.mark("pagerank_fog 5 iters")
        ge.unpersist()
        t.dump(f"repo rep{rep}")


def probe_minhash(spark):
    from fog_spark.datapipe.dedup import minhash_lsh_candidates

    docs = load(spark, SF_DIR, "documents")
    for rep in range(3):
        t = T()
        minhash_lsh_candidates(docs, k=16, bands=4).count()
        t.mark("minhash_lsh")
        t.dump(f"minhash rep{rep}")


PROBES = {
    "triangles": probe_triangles,
    "triangles_phases": probe_triangles_phases,
    "repo": probe_repo,
    "minhash": probe_minhash,
}


def main():
    which = sys.argv[1:] or list(PROBES)
    spark = get_spark("fogspark-probe", cpus=CPUS, shuffle_partitions=CPUS,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    for name in which:
        PROBES[name](spark)
    spark.stop()


if __name__ == "__main__":
    main()
