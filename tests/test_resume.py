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

from fog_spark.algorithms.anf import neighborhood_sketches
from fog_spark.algorithms.katz import katz
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
    "bfs.bfs_levels": f"{_CKPT}::test_bfs_sssp_lpa_resume",
    "sssp.sssp": f"{_CKPT}::test_bfs_sssp_lpa_resume",
    "lpa.label_propagation": f"{_CKPT}::test_bfs_sssp_lpa_resume",
    "cc.min_frontier_loop": f"{_CKPT}::test_cc_resume_matches_clean",
    "cc.connected_components": f"{_CKPT}::test_cc_resume_matches_clean",
    "kcore.k_core": f"{_CKPT}::test_kcore_resume_matches_clean",
    "pagerank.pagerank_fog": f"{_CKPT}::test_pagerank_resume_bit_identical",
    "pagerank.pagerank_standard": f"{_CKPT}::test_pagerank_standard_resume",
    "pagerank.pagerank_weighted": f"{_CKPT}::test_pagerank_standard_resume",
    "pagerank.pagerank_personalized": f"{_CKPT}::test_pagerank_standard_resume",
    "coreness.coreness": "tests/test_coreness.py::test_coreness_fixed_rounds_upper_bounds_and_resume",
    "dag.topo_levels": "tests/test_dag.py::test_topo_levels_commits_and_resumes",
    "hits.hits": "tests/test_pagerank.py::test_hits_resume_matches_clean",
    "ktruss.k_truss": "tests/test_ktruss.py::test_ktruss_fixed_rounds_then_resume_converges",
    "msbfs.multi_source_bfs": "tests/test_traversals.py::test_multi_source_bfs_resume",
    "msf.minimum_spanning_forest": "tests/test_msf.py::test_msf_resume_returns_full_forest",
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


RUNS = {
    "katz": lambda e, steps, ctx: {
        r["id"]: r["katz"] for r in katz(e, alpha=0.1, niters=steps, ctx=ctx).collect()
    },
    "salsa": lambda e, steps, ctx: {
        r["id"]: (r["authority"], r["hub"]) for r in salsa(e, niters=steps, ctx=ctx).collect()
    },
    "anf": lambda e, steps, ctx: {
        r["id"]: tuple(r["hvs"]) for r in neighborhood_sketches(e, steps, k=8, ctx=ctx).collect()
    },
}


@pytest.mark.parametrize("name", sorted(RUNS))
def test_kill_and_resume_matches_clean(spark, tmp_path, name):
    """k/2 supersteps with a ctx, then k on the same run dir: equal to a
    clean k-step run (bit for bit: both restart every step from the
    previous step's parquet), and the first k/2 steps are not redone."""
    run, k, e = RUNS[name], 4, _graph(spark)
    clean = run(e, k, RunContext(spark, str(tmp_path), "clean"))

    killed = RunContext(spark, str(tmp_path), "resume")
    run(e, k // 2, killed)
    written = {m["superstep"]: m["ts"] for m in killed.metrics()}
    assert sorted(written) == list(range(1, k // 2 + 1))

    ctx = RunContext(spark, str(tmp_path), "resume")
    assert run(e, k, ctx) == clean
    after = {m["superstep"]: m["ts"] for m in ctx.metrics()}
    assert sorted(after) == list(range(1, k + 1))
    assert all(after[s] == ts for s, ts in written.items())
