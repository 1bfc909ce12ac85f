"""Write .explain("formatted") artifacts for the round-6 plan evidence.

Usage: python tools/capture_plans.py <tree_root> <out_dir> <suffix>
  tree_root: repo tree whose fog_spark to import (round-start worktree
             for *_before.txt, the live tree for *_after.txt)
  out_dir:   e.g. /root/repo/plans/r06
  suffix:    "before" | "after"

Each artifact is the formatted physical plan of the representative
frame(s) of one headline query (for iterative algorithms: the state
init and one superstep, the loop bodies the bench actually times).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

tree, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, tree)

from pyspark.sql import functions as F  # noqa: E402

from fog_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"
os.makedirs(out_dir, exist_ok=True)

spark = get_spark("plans", cpus=8, shuffle_partitions=8,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})


def dump(name, df):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
        f.write(buf.getvalue())
    print("wrote", name)


from fog_spark.queries import cooccur_edges  # noqa: E402

edges = cooccur_edges(spark, SF).persist()
edges.count()

# --- derive_edges
dump("derive_edges", cooccur_edges(spark, SF))

# --- triangles (the counted stream)
import fog_spark.algorithms.triangles as tr  # noqa: E402

# trees before the triangle family shared one stream orient the raw edges
o, n_o = tr._oriented_cached(tr._undirected(edges) if hasattr(tr, "_undirected") else edges)
if 0 <= n_o <= tr.TRIANGLE_BROADCAST_MAX_EDGES:
    dump("triangles", tr._closed_wedges(o).agg(F.sum(F.size("ws"))))
else:
    dump("triangles", tr._triangle_stream(o, n_o))
o.unpersist()

# --- pagerank: state init + one superstep (broadcast-state regime)
from fog_spark.engine.superstep import materialize, maybe_broadcast, prepare_gather_edges  # noqa: E402
import fog_spark.algorithms.pagerank as pr  # noqa: E402

# the live loop preamble; trees before the hub probe was deleted name it
# _degrees_with_indeg and add an indeg column the superstep drops
preamble = getattr(pr, "_outdegrees", None) or pr._degrees_with_indeg
init = preamble(edges, None).withColumn("rank", F.lit(1.0))
dump("pagerank_state_init", init)
state = materialize(init).select("id", "outdeg", "rank")
n = state.count()
prepared = prepare_gather_edges(edges, n)
if prepared is not edges:
    prepared.count()
d = 0.85
st = maybe_broadcast(state, n)
msgs = prepared.join(st, prepared["src"] == st["id"]).select(
    prepared["dst"], (d * F.col("rank") / F.col("outdeg") + (1.0 - d)).alias("msg")
)
agg = msgs.groupBy("dst").agg(F.sum("msg").alias("incoming"))
try:
    from fog_spark.engine.superstep import merge_join

    joined = merge_join(state, agg, state["id"] == agg["dst"], n)
except ImportError:
    joined = state.join(maybe_broadcast(agg, n), state["id"] == agg["dst"], "left")
step = joined.select(
    "id", "outdeg", (F.col("rank") + F.coalesce("incoming", F.lit(0.0))).alias("rank")
)
dump("pagerank_superstep", step)
if prepared is not edges:
    prepared.unpersist()

# --- cc state init (mirrors connected_components' default-vertex preamble)
from fog_spark.engine.superstep import symmetrize  # noqa: E402

sym = symmetrize(edges)
dv = (
    sym.select(F.col("dst").alias("id"))
    .unionByName(
        edges.select("src", "dst").filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("id"))
    )
    .distinct()
    .select("id", F.col("id").alias("comp"), F.lit(True).alias("changed"))
)
dump("cc_state_init", dv)

# --- repo pipeline: derived edge table
from fog_spark.fixtures_spark import make_repo_table_spark  # noqa: E402
from fog_spark.graph.derive import derive_graph  # noqa: E402

repos = make_repo_table_spark(spark, n_repos=5, files_per_repo=100)
g = derive_graph(repos)
dump("repo_derive_edges", g.edges)

# --- token_pmi pair join (touched non-headline)
try:
    from fog_spark.queries import QUERIES

    dump("token_pmi", QUERIES["token_pmi"](spark, SF))
except Exception as exc:  # noqa: BLE001
    print("token_pmi skipped:", exc)

# --- triad census (touched non-headline)
try:
    from fog_spark.algorithms.triads import triad_census
    from fog_spark.queries import directed_edges

    dump("triad_census", triad_census(directed_edges(spark, SF)))
except Exception as exc:  # noqa: BLE001
    print("triad_census skipped:", exc)

# --- ANF one merge round (touched non-headline)
try:
    import fog_spark.algorithms.anf as anf

    fwd = edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    st0 = fwd.select(F.col("src").alias("id"), F.array(anf._kmv_hash(F.col("src"))).alias("hvs"))
    contrib = fwd.join(st0, fwd["dst"] == st0["id"]).select(fwd["src"].alias("id"), "hvs")
    uni = st0.unionByName(contrib)
    if hasattr(anf, "_bounded_bottom_k_merge"):
        dump("anf_merge_round", anf._bounded_bottom_k_merge(uni, 16))
    else:
        dump("anf_merge_round", uni.groupBy("id").agg(anf._merged_bottom_k(16).alias("hvs")))
except Exception as exc:  # noqa: BLE001
    print("anf skipped:", exc)

spark.stop()
print("DONE", suffix)
