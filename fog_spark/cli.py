"""Command-line entry point — the ``fog`` binary's shape, Spark-first.

FOG runs as two programs: ``convert`` (text graph -> binary CSR) and
``fog`` with ``-g graph -a application -m memory -p processors``
(reference: fogsrc/main.cpp:137-251, headers/options_utils.h:22-70).
Here one CLI covers both: point it at an edgelist/adjlist text file, a
parquet edge table, or a source-repository table (the convert step is
the scan/derivation itself), pick an algorithm, and optionally a
checkpoint run-dir, from which the superstep apps that checkpoint
resume mid-run.

Examples::

    python -m fog_spark.cli --graph g.txt --format edgelist \
        --app pagerank --niters 10 --out /tmp/ranks
    python -m fog_spark.cli --graph repos.parquet --format repos \
        --app cc --out /tmp/comps --run-dir /tmp/ckpt
    spark-submit --py-files fog_spark.zip fog_spark/cli.py ...  # cluster

(``-p processors`` maps to --cpus; FOG's ``-m memory`` has no analogue —
Spark executors size their own memory.)
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession, functions as F


def _load_edges(spark: SparkSession, path: str, fmt: str) -> tuple[DataFrame, DataFrame | None]:
    """Returns (edges, vertices|None) for the given input format."""
    if fmt == "edgelist":
        from fog_spark.sources.edgelist import read_edgelist

        return read_edgelist(spark, path), None
    if fmt == "adjlist":
        from fog_spark.sources.edgelist import read_adjlist

        return read_adjlist(spark, path), None
    if fmt == "parquet":
        return spark.read.parquet(path), None
    if fmt == "repos":
        from fog_spark.graph.derive import derive_graph

        g = derive_graph(spark.read.parquet(path))
        return g.edges, g.vertices
    raise ValueError(f"unknown --format {fmt}")


def _run_app(args, edges: DataFrame, vertices: DataFrame | None, ctx) -> DataFrame:
    if args.app == "pagerank":
        from fog_spark.algorithms.pagerank import pagerank_fog, pagerank_standard

        if args.mode == "fog":
            return pagerank_fog(edges, vertices, niters=args.niters, ctx=ctx)
        ranks, iters = pagerank_standard(
            edges, vertices, tol=args.tol, max_iters=args.max_iters, ctx=ctx
        )
        print(f"pagerank converged after {iters} iterations", file=sys.stderr)
        return ranks
    if args.app == "cc":
        from fog_spark.algorithms.cc import connected_components

        return connected_components(edges, vertices, max_iters=args.max_iters, ctx=ctx)
    if args.app == "scc":
        from fog_spark.algorithms.scc import strongly_connected_components

        return strongly_connected_components(edges, vertices)
    if args.app == "bfs":
        from fog_spark.algorithms.bfs import bfs_levels

        return bfs_levels(edges, root=args.root, vertices=vertices, max_iters=args.max_iters, ctx=ctx)
    if args.app == "sssp":
        from fog_spark.algorithms.sssp import sssp

        return sssp(edges, source=args.root, vertices=vertices, max_iters=args.max_iters, ctx=ctx)
    if args.app == "lpa":
        from fog_spark.algorithms.lpa import label_propagation

        return label_propagation(edges, vertices, max_iters=args.niters, ctx=ctx)
    if args.app == "triangles":
        from fog_spark.algorithms.triangles import triangle_counts

        return triangle_counts(edges, vertices)
    if args.app == "kcore":
        from fog_spark.algorithms.kcore import k_core

        return k_core(edges, k=args.k, vertices=vertices, ctx=ctx)
    if args.app == "spmv":
        from fog_spark.algorithms.spmv import spmv

        return spmv(edges, vertices=vertices)
    if args.app == "hits":
        from fog_spark.algorithms.hits import hits

        return hits(edges, vertices, niters=args.niters, ctx=ctx)
    if args.app == "walks":
        from fog_spark.algorithms.walks import random_walks, weighted_random_walks

        if args.weighted:
            if "weight" not in edges.columns:
                raise ValueError("--weighted needs a 'weight' column on the edge input")
            if args.sampler == "alias":
                from fog_spark.algorithms.walks import weighted_random_walks_alias

                return weighted_random_walks_alias(
                    edges, length=args.length, walks_per_vertex=args.walks_per_vertex,
                    seed=args.seed, vertices=vertices,
                )
            return weighted_random_walks(
                edges, length=args.length, walks_per_vertex=args.walks_per_vertex,
                seed=args.seed, attempts=args.attempts, vertices=vertices,
            )
        return random_walks(
            edges, length=args.length, walks_per_vertex=args.walks_per_vertex,
            seed=args.seed, vertices=vertices,
        )
    if args.app == "node2vec":
        from fog_spark.algorithms.walks import node2vec_walks, node2vec_walks_rejection

        if args.sampler == "rejection":
            return node2vec_walks_rejection(
                edges, length=args.length, p=args.p, q=args.q,
                walks_per_vertex=args.walks_per_vertex, seed=args.seed,
                attempts=args.attempts, vertices=vertices,
            )
        return node2vec_walks(
            edges, length=args.length, p=args.p, q=args.q,
            walks_per_vertex=args.walks_per_vertex, seed=args.seed, vertices=vertices,
        )
    if args.app == "msbfs":
        from fog_spark.algorithms.msbfs import multi_source_bfs

        if not args.seeds:
            raise ValueError("--app msbfs requires --seeds id[,id...] (the landmark roots)")
        return multi_source_bfs(
            edges, [int(s) for s in args.seeds.split(",")],
            max_iters=args.max_iters, ctx=ctx,
        )
    if args.app == "linkpred":
        from fog_spark.algorithms.linkpred import common_neighbor_scores

        return common_neighbor_scores(
            edges, max_degree=args.max_degree, min_common=args.min_common
        )
    if args.app == "coreness":
        from fog_spark.algorithms.coreness import coreness

        return coreness(edges, vertices=vertices, ctx=ctx)
    if args.app == "mis":
        from fog_spark.algorithms.mis import maximal_independent_set

        return maximal_independent_set(edges, salt=args.seed)
    if args.app == "katz":
        from fog_spark.algorithms.katz import katz

        return katz(edges, alpha=args.alpha, niters=args.niters, ctx=ctx)
    if args.app == "ktruss":
        from fog_spark.algorithms.ktruss import k_truss

        return k_truss(edges, k=args.k, ctx=ctx)
    if args.app == "msf":
        from fog_spark.algorithms.msf import minimum_spanning_forest

        if "weight" not in edges.columns:
            raise ValueError("--app msf needs a 'weight' column on the edge input")
        return minimum_spanning_forest(edges, ctx=ctx)
    if args.app == "louvain":
        from fog_spark.algorithms.community import louvain_local_move

        return louvain_local_move(edges, rounds=args.niters)
    if args.app == "betweenness":
        from fog_spark.algorithms.betweenness import betweenness_sampled

        if not args.seeds:
            raise ValueError("--app betweenness requires --seeds id[,id...] (the pivots)")
        roots = [int(s) for s in args.seeds.split(",")]
        d = betweenness_sampled(edges, roots, max_depth=args.max_depth)
        n = vertices.count() if vertices is not None else None
        if n is None:
            from fog_spark.engine.superstep import vertices_of

            n = vertices_of(edges).count()
        return (
            d.where(F.col("dist") > 0)
            .groupBy("id")
            .agg((F.lit(float(n) / len(roots)) * F.sum("delta")).alias("bc"))
        )
    if args.app == "triads":
        from fog_spark.algorithms.triads import triad_census

        return triad_census(edges)
    if args.app == "percolation":
        from fog_spark.algorithms.cascade import HASH_DEN, percolation_curve

        p_nums = [int(float(x) * HASH_DEN) for x in (args.probs or "0.3,0.6,0.9").split(",")]
        return percolation_curve(edges, p_nums)
    if args.app == "spread":
        from fog_spark.algorithms.labelspread import label_spreading

        if not args.seeds or ":" not in args.seeds:
            raise ValueError("--app spread requires --seeds id:label[,id:label...]")
        rows = [tuple(int(v) for v in kv.split(":")) for kv in args.seeds.split(",")]
        seed_df = edges.sparkSession.createDataFrame(rows, "id long, label long")
        return label_spreading(edges, seed_df, rounds=args.niters)
    if args.app == "sweepcut":
        from fog_spark.algorithms.pagerank import pagerank_personalized
        from fog_spark.algorithms.sweep import sweep_cut

        if not args.seeds:
            raise ValueError("--app sweepcut requires --seeds id")
        seed_df = edges.sparkSession.createDataFrame(
            [(int(s),) for s in args.seeds.split(",")], "id long"
        )
        ranks, _ = pagerank_personalized(
            edges, seed_df, vertices, tol=0.0, max_iters=args.niters
        )
        return sweep_cut(ranks, edges, topk=args.topk)
    if args.app == "bowtie":
        from fog_spark.algorithms.bowtie import bowtie_decomposition

        return bowtie_decomposition(edges, vertices=vertices)
    if args.app == "related":
        from fog_spark.algorithms.linkpred import related_pages

        return related_pages(edges, k=args.topk, max_degree=args.max_degree)
    if args.app == "influence":
        from fog_spark.algorithms.cascade import HASH_DEN, influence_spread

        if not args.seeds:
            raise ValueError("--app influence requires --seeds id[,id...]")
        seeds = edges.sparkSession.createDataFrame(
            [(int(s),) for s in args.seeds.split(",")], "root long"
        )
        return influence_spread(
            edges, seeds, p_num=int(args.prob * HASH_DEN), samples=args.samples
        )
    if args.app == "ppr":
        from fog_spark.algorithms.pagerank import pagerank_personalized

        if not args.seeds:
            raise ValueError("--app ppr requires --seeds id[,id...]")
        seeds = edges.sparkSession.createDataFrame(
            [(int(s),) for s in args.seeds.split(",")], "id long"
        )
        ranks, iters = pagerank_personalized(
            edges, seeds, vertices, tol=args.tol, max_iters=args.max_iters, ctx=ctx
        )
        print(f"ppr converged after {iters} iterations", file=sys.stderr)
        return ranks
    raise ValueError(f"unknown --app {args.app}")


# table-input apps: --graph points at a parquet TABLE, not a graph
def _run_table_app(args, spark: SparkSession) -> DataFrame:
    if args.app == "tfidf":
        from fog_spark.datapipe.text import tfidf_top_terms

        return tfidf_top_terms(spark.read.parquet(args.graph), k=args.topk)
    if args.app == "asof":
        from fog_spark.datapipe.temporal import asof_join

        if not args.right or not args.on:
            raise ValueError("--app asof requires --right <parquet> and --on <key[,key...]>")
        return asof_join(
            spark.read.parquet(args.graph),
            spark.read.parquet(args.right),
            on=args.on.split(","),
            left_ts=args.ts_col,
            right_ts=args.ts_col,
            tolerance_s=args.tolerance,
        )
    if args.app == "bpe":
        from fog_spark.datapipe.bpe import bpe_train

        return bpe_train(spark.read.parquet(args.graph), rounds=args.niters)
    if args.app == "pack":
        from fog_spark.datapipe.packing import pack_documents

        return pack_documents(spark.read.parquet(args.graph), window=args.window)
    if args.app == "dedup":
        from fog_spark.datapipe.dedup import dedup_corpus

        return dedup_corpus(
            spark.read.parquet(args.graph),
            k=args.minhash_k,
            bands=args.bands,
            threshold=args.threshold,
            max_bucket=args.max_bucket,
        )
    raise ValueError(f"unknown table app {args.app}")


TABLE_APPS = ("tfidf", "asof", "dedup", "pack", "bpe")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="fog_spark", description=__doc__)
    p.add_argument("--graph", "-g", required=True, help="input path (text graph / parquet)")
    p.add_argument(
        "--format", choices=["edgelist", "adjlist", "parquet", "repos"], default="edgelist"
    )
    p.add_argument(
        "--app", "-a", required=True,
        choices=["pagerank", "cc", "scc", "bfs", "sssp", "lpa", "triangles", "spmv",
                 "kcore", "hits", "walks", "node2vec", "ppr", "msbfs", "linkpred",
                 "msf", "louvain", "betweenness", "ktruss", "coreness", "mis", "katz",
                 "bowtie", "related", "influence", "triads", "percolation",
                 "spread", "sweepcut",
                 "tfidf", "asof", "dedup", "pack", "bpe"],
    )
    p.add_argument("--mode", choices=["fog", "standard"], default="fog", help="pagerank mode")
    p.add_argument("--niters", "-i", type=int, default=10, help="fixed iterations (fog mode / lpa)")
    p.add_argument("--max-iters", type=int, default=10_000)
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--alpha", type=float, default=0.1, help="katz attenuation factor")
    p.add_argument("--root", "-r", type=int, default=0, help="bfs/sssp root (options_utils.h:45-46)")
    p.add_argument("--k", type=int, default=3, help="kcore: minimum surviving degree; ktruss: truss order")
    p.add_argument("--length", type=int, default=4, help="walks/node2vec: steps per walk")
    p.add_argument("--walks-per-vertex", type=int, default=1)
    p.add_argument("--seed", type=int, default=42, help="walks/node2vec: hash seed")
    p.add_argument("--p", type=int, default=1, help="node2vec return parameter (integer)")
    p.add_argument("--q", type=int, default=1, help="node2vec in-out parameter (integer)")
    p.add_argument("--weighted", action="store_true",
                   help="walks: edge-weight-proportional picks (rejection-sampled)")
    p.add_argument("--sampler", choices=["exact", "rejection", "alias"], default="exact",
                   help="node2vec: exact gather vs KnightKing-style rejection "
                        "(point lookups; use on hub-heavy graphs); "
                        "walks --weighted: 'alias' = Walker-table O(1) draws")
    p.add_argument("--attempts", type=int, default=8,
                   help="node2vec rejection: batched draws per step before exact fallback")
    p.add_argument("--seeds", default=None,
                   help="ppr/msbfs: comma-separated seed/landmark vertex ids")
    p.add_argument("--max-depth", type=int, default=None,
                   help="betweenness: bound both Brandes phases at this distance")
    p.add_argument("--max-degree", type=int, default=10_000,
                   help="linkpred: exclude shared-neighbor centers above this degree")
    p.add_argument("--min-common", type=int, default=1,
                   help="linkpred: minimum shared neighbors per candidate pair")
    p.add_argument("--topk", type=int, default=5, help="tfidf: terms per document; related: pages per page")
    p.add_argument("--prob", type=float, default=0.3, help="influence: per-edge activation probability")
    p.add_argument("--samples", type=int, default=3, help="influence: deterministic cascade samples")
    p.add_argument("--window", type=int, default=512, help="pack: context window size in tokens")
    p.add_argument("--probs", default=None, help="percolation: comma-separated retention probabilities")
    p.add_argument("--minhash-k", type=int, default=16, help="dedup: minhash signature size")
    p.add_argument("--bands", type=int, default=4, help="dedup: LSH bands (rows = k/bands)")
    p.add_argument("--threshold", type=float, default=0.8,
                   help="dedup: n-gram Jaccard verification threshold")
    p.add_argument("--max-bucket", type=int, default=1000,
                   help="dedup: drop LSH buckets larger than this (degenerate content)")
    p.add_argument("--right", default=None, help="asof: right-side parquet table")
    p.add_argument("--on", default=None, help="asof: join key column(s), comma-separated")
    p.add_argument("--ts-col", default="ts", help="asof: timestamp column on both sides")
    p.add_argument("--tolerance", type=float, default=None, help="asof: max staleness seconds")
    p.add_argument("--out", "-o", default=None, help="output parquet dir (default: print top 100)")
    p.add_argument(
        "--run-dir", default=None,
        help="checkpoint dir: pagerank, cc, bfs, sssp, lpa, kcore, hits, msbfs, "
             "coreness, katz, ktruss, msf and ppr commit every superstep there "
             "and resume from it; apps that do not checkpoint (scc, triangles, "
             "walks, mis, betweenness, louvain, ...) ignore it",
    )
    p.add_argument("--run-id", default="run0")
    p.add_argument(
        "--keep-last", type=int, default=None, metavar="K",
        help="checkpoint retention: vacuum snapshots older than the newest "
             "K supersteps after each commit (never the resume point); "
             "default keeps full history",
    )
    p.add_argument("--cpus", "-p", type=int, default=None, help="local parallelism (FOG's -p)")
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if spark is None:
        from fog_spark.session import get_spark

        spark = get_spark("fog_spark-cli", cpus=args.cpus)
    ctx = None
    if args.run_dir:
        from fog_spark.engine.checkpoint import RunContext

        ctx = RunContext(spark, args.run_dir, args.run_id, keep_last=args.keep_last)
    if args.app in TABLE_APPS:
        out = _run_table_app(args, spark)
    else:
        edges, vertices = _load_edges(spark, args.graph, args.format)
        out = _run_app(args, edges, vertices, ctx)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}", file=sys.stderr)
    else:
        # FOG's finalize print: first 100 vertices (pagerank.hpp:121-128)
        first_col = out.columns[0]
        out.orderBy(first_col).show(100, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
