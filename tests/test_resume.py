"""A ``ctx`` parameter is a resume contract.

``RESUME_TESTS`` names, for every public function in
``fog_spark/algorithms/`` that takes ``ctx``, the test that stops a run
part-way and resumes it on the same run dir. A function may instead
delegate: pass its ``ctx`` on to a function the table names. The guard
test below fails on any ``ctx`` parameter that is neither, so a
function cannot write snapshots that nothing reads.
"""

import ast
import pathlib
import random

import pytest
from pyspark.sql import functions as F

from fog_spark.algorithms.anf import neighborhood_sketches
from fog_spark.algorithms.bfs import bfs_levels
from fog_spark.algorithms.cc import connected_components
from fog_spark.algorithms.coreness import coreness
from fog_spark.algorithms.hits import hits
from fog_spark.algorithms.katz import katz
from fog_spark.algorithms.kcore import k_core
from fog_spark.algorithms.ktruss import k_truss
from fog_spark.algorithms.lpa import label_propagation
from fog_spark.algorithms.msbfs import multi_source_bfs
from fog_spark.algorithms.msf import minimum_spanning_forest
from fog_spark.algorithms.pagerank import pagerank_fog, pagerank_standard
from fog_spark.algorithms.salsa import salsa
from fog_spark.engine.checkpoint import RunContext

ROOT = pathlib.Path(__file__).resolve().parent.parent
ALGORITHMS = ROOT / "fog_spark" / "algorithms"

_KILL = "tests/test_resume.py::test_kill_and_resume_matches_clean"
_CKPT = "tests/test_checkpoint_spmv.py"
RESUME_TESTS = {
    "anf.neighborhood_sketches": _KILL,
    "katz.katz": _KILL,
    "salsa.salsa": _KILL,
    "hits.hits": _KILL,
    "kcore.k_core": _KILL,
    "ktruss.k_truss": _KILL,
    "msbfs.multi_source_bfs": _KILL,
    "msf.minimum_spanning_forest": _KILL,
    "bfs.bfs_levels": f"{_CKPT}::test_bfs_sssp_lpa_resume",
    "sssp.sssp": f"{_CKPT}::test_bfs_sssp_lpa_resume",
    "lpa.label_propagation": f"{_CKPT}::test_bfs_sssp_lpa_resume",
    "cc.min_frontier_loop": f"{_CKPT}::test_cc_resume_matches_clean",
    "cc.connected_components": f"{_CKPT}::test_cc_resume_matches_clean",
    "pagerank.pagerank_fog": f"{_CKPT}::test_pagerank_resume_bit_identical",
    "pagerank.pagerank_standard": f"{_CKPT}::test_pagerank_standard_resume",
    "pagerank.pagerank_weighted": f"{_CKPT}::test_pagerank_standard_resume",
    "pagerank.pagerank_personalized": f"{_CKPT}::test_pagerank_standard_resume",
    "coreness.coreness": "tests/test_coreness.py::test_coreness_fixed_rounds_upper_bounds_and_resume",
    "dag.topo_levels": "tests/test_dag.py::test_topo_levels_commits_and_resumes",
}


def _public_functions(path: pathlib.Path):
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
            yield node


def _takes_ctx(fn: ast.FunctionDef) -> bool:
    return any(a.arg == "ctx" for a in fn.args.args + fn.args.kwonlyargs)


def _ctx_callees(fn: ast.FunctionDef) -> set[str]:
    """Names of the functions this body calls with its own ``ctx``."""
    out = set()
    for call in ast.walk(fn):
        if not isinstance(call, ast.Call):
            continue
        passed = [a for a in call.args if isinstance(a, ast.Name)]
        passed += [k.value for k in call.keywords if k.arg == "ctx" and isinstance(k.value, ast.Name)]
        if any(a.id == "ctx" for a in passed):
            f = call.func
            out.add(f.id if isinstance(f, ast.Name) else getattr(f, "attr", ""))
    return out


def test_every_ctx_function_has_a_resume_test():
    tested = {key.split(".", 1)[1] for key in RESUME_TESTS}
    seen, missing = set(), []
    for path in sorted(ALGORITHMS.glob("*.py")):
        for fn in _public_functions(path):
            if not _takes_ctx(fn):
                continue
            key = f"{path.stem}.{fn.name}"
            seen.add(key)
            if key not in RESUME_TESTS and not _ctx_callees(fn) & tested:
                missing.append(key)
    assert not missing, f"take ctx but have no resume test and delegate to none: {missing}"
    # the table holds no stale rows, and every test it names exists
    assert set(RESUME_TESTS) <= seen, sorted(set(RESUME_TESTS) - seen)
    for ref in set(RESUME_TESTS.values()):
        file, name = ref.split("::")
        defined = {n.name for n in ast.parse((ROOT / file).read_text()).body
                   if isinstance(n, ast.FunctionDef)}
        assert name in defined, ref


def _graph(spark):
    """24-vertex seeded digraph with cycles, a self-loop and a duplicate."""
    rnd = random.Random(14)
    pairs = [(rnd.randrange(24), rnd.randrange(24)) for _ in range(60)]
    pairs += [(3, 3), pairs[0]]
    return spark.createDataFrame(pairs, "src long, dst long")


def _truss_graph(spark):
    """24-vertex seeded graph dense enough that its 4-truss peel takes
    four rounds (three that drop edges, one that drops none)."""
    rnd = random.Random(33)
    pairs = [(rnd.randrange(24), rnd.randrange(24)) for _ in range(120)]
    return spark.createDataFrame(pairs, "src long, dst long")


def _weighted(e):
    return e.withColumn("weight", ((F.col("src") * 31 + F.col("dst") * 17) % 13 + 1).cast("double"))


def _pagerank_standard(e, steps, ctx):
    ranks, iters = pagerank_standard(e, max_iters=steps or 200, ctx=ctx)
    return {r["id"]: r["rank"] for r in ranks.collect()}, iters


# name -> run(edges, supersteps or None (to convergence), ctx): a
# comparable result. The convergent programs (CONVERGENT, plus bfs) cap
# at `steps` and may stop earlier.
RUNS = {
    "pagerank_fog": lambda e, steps, ctx: {
        r["id"]: r["rank"] for r in pagerank_fog(e, niters=steps, ctx=ctx).collect()
    },
    "pagerank_standard": _pagerank_standard,
    "lpa": lambda e, steps, ctx: {
        r["id"]: r["label"] for r in label_propagation(e, max_iters=steps or 20, ctx=ctx).collect()
    },
    "coreness": lambda e, steps, ctx: {
        r["id"]: r["coreness"] for r in coreness(e, max_iters=steps or 10_000, ctx=ctx).collect()
    },
    "cc": lambda e, steps, ctx: {
        r["id"]: r["component"] for r in connected_components(e, max_iters=steps or 200, ctx=ctx).collect()
    },
    "bfs": lambda e, steps, ctx: {
        r["id"]: r["level"] for r in bfs_levels(e, 0, max_iters=steps or 10_000, ctx=ctx).collect()
    },
    "katz": lambda e, steps, ctx: {
        r["id"]: r["katz"] for r in katz(e, alpha=0.1, niters=steps, ctx=ctx).collect()
    },
    "salsa": lambda e, steps, ctx: {
        r["id"]: (r["authority"], r["hub"]) for r in salsa(e, niters=steps, ctx=ctx).collect()
    },
    "anf": lambda e, steps, ctx: {
        r["id"]: tuple(r["hvs"]) for r in neighborhood_sketches(e, steps, k=8, ctx=ctx).collect()
    },
    "hits": lambda e, steps, ctx: {
        r["id"]: (r["authority"], r["hub"]) for r in hits(e, niters=steps, ctx=ctx).collect()
    },
    "msbfs": lambda e, steps, ctx: {
        tuple(r) for r in multi_source_bfs(e, [0, 5], max_iters=steps or 10_000, ctx=ctx).collect()
    },
    "msf": lambda e, steps, ctx: {
        tuple(r) for r in minimum_spanning_forest(_weighted(e), rounds=steps, ctx=ctx).collect()
    },
    "kcore": lambda e, steps, ctx: {
        tuple(r) for r in k_core(e, 3, rounds=steps, ctx=ctx).collect()
    },
    "ktruss": lambda e, steps, ctx: {
        tuple(r) for r in k_truss(e, 4, rounds=steps, ctx=ctx).collect()
    },
}
GRAPHS = {"ktruss": _truss_graph}  # the rest run on _graph
CONVERGENT = ["cc", "coreness", "kcore", "ktruss", "lpa", "msbfs", "msf", "pagerank_standard"]
K = 4  # supersteps of the clean run; the kill lands at K // 2


def _steps(ctx):
    return {m["superstep"]: m["ts"] for m in ctx.metrics()}


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup("rerun-jobs", "rerun-jobs")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup("rerun-jobs"))


@pytest.fixture(scope="module")
def clean_run(spark, tmp_path_factory):
    """name -> (output, committed steps) of one clean K-step ctx run,
    made once and shared by the kill and the vacuum tests."""
    root, runs = str(tmp_path_factory.mktemp("clean")), {}

    def get(name):
        if name not in runs:
            ctx = RunContext(spark, root, name)
            out = RUNS[name](GRAPHS.get(name, _graph)(spark), K, ctx)
            runs[name] = out, sorted(_steps(ctx))
        return runs[name]

    return get


@pytest.mark.parametrize("name", sorted(RUNS))
def test_kill_and_resume_matches_clean(spark, tmp_path, clean_run, name):
    """K/2 supersteps with a ctx, then K on the same run dir: equal to a
    clean K-step run (bit for bit: both restart every step from the
    previous step's parquet), the same steps are committed, and the
    first K/2 are not redone. salsa then reruns the finished run dir:
    the same output and no round, from at most 3 Spark jobs."""
    run, e = RUNS[name], GRAPHS.get(name, _graph)(spark)
    clean, steps = clean_run(name)
    assert steps[-1] > K // 2, "the kill must land before the clean run's last step"

    killed = RunContext(spark, str(tmp_path), "resume")
    run(e, K // 2, killed)
    written = _steps(killed)
    assert sorted(written) == [s for s in steps if s <= K // 2]

    ctx = RunContext(spark, str(tmp_path), "resume")
    assert run(e, K, ctx) == clean
    after = _steps(ctx)
    assert sorted(after) == steps
    assert all(after[s] == ts for s, ts in written.items())

    if name == "salsa":
        # the call alone: no preamble is built before the loop returns
        # the finished snapshot
        out, jobs = _jobs(spark, lambda: salsa(e, niters=K, ctx=RunContext(spark, str(tmp_path), "resume")))
        assert jobs <= 3, f"a rerun on a finished run dir launched {jobs} Spark jobs"
        assert {r["id"]: (r["authority"], r["hub"]) for r in out.collect()} == clean
        assert _steps(ctx) == after


@pytest.mark.parametrize("name", sorted(RUNS))
def test_resume_after_keep_last_vacuum_matches_clean(spark, tmp_path, clean_run, name):
    """The kill at K/2 under keep_last=1 leaves only the newest
    snapshot; resuming from it still gives the clean K-step result."""
    run, e = RUNS[name], GRAPHS.get(name, _graph)(spark)
    clean, _ = clean_run(name)
    run(e, K // 2, RunContext(spark, str(tmp_path), "vac", keep_last=1))
    ctx = RunContext(spark, str(tmp_path), "vac", keep_last=1)
    assert run(e, K, ctx) == clean
    assert sorted(_steps(ctx)) == [max(_steps(ctx))]


@pytest.mark.parametrize("name", CONVERGENT)
def test_converged_rerun_runs_no_round(spark, tmp_path, name):
    """A run dir whose last record says done returns its snapshot: the
    same output, and no metric record is written or rewritten."""
    run, e = RUNS[name], GRAPHS.get(name, _graph)(spark)
    ctx = RunContext(spark, str(tmp_path), "run")
    first = run(e, None, ctx)
    before = _steps(ctx)
    assert ctx.last_committed()["done"] is True
    assert run(e, None, RunContext(spark, str(tmp_path), "run")) == first
    assert _steps(ctx) == before
