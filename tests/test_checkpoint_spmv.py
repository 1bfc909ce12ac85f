"""Checkpoint/resume semantics + SpMV."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fog_spark import oracles
from fog_spark.algorithms import connected_components, spmv
from fog_spark.algorithms.pagerank import pagerank_fog
from fog_spark.engine.checkpoint import RunContext
from fog_spark.fixtures import graph_to_spark, named_graphs

GRAPHS = named_graphs()


def test_spmv_matches_oracle(spark):
    g = GRAPHS["g_dag"]
    expected = oracles.spmv(g.edges, g.weights(), g.n)
    vertices = spark.range(g.n).select("id")
    rows = {r["id"]: r["spmv_value"] for r in spmv(graph_to_spark(spark, g), vertices=vertices).collect()}
    got = [rows[i] for i in range(g.n)]
    assert np.allclose(got, expected, atol=1e-9)


def test_pagerank_resume_bit_identical(spark, tmp_path):
    """Kill after superstep k, resume, final state identical to a clean run."""
    g = GRAPHS["g_er_n100"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")

    # uninterrupted checkpointed run — the bit-identity baseline (same
    # per-superstep plan: every step restarts from the step-(k-1) parquet)
    ctx0 = RunContext(spark, str(tmp_path), "runClean")
    clean = {r["id"]: r["rank"] for r in pagerank_fog(edges, vertices, niters=6, ctx=ctx0).collect()}

    ctx1 = RunContext(spark, str(tmp_path), "runA")
    pagerank_fog(edges, vertices, niters=3, ctx=ctx1)  # "crash" after step 3
    assert ctx1.last_committed()["superstep"] == 3

    ctx2 = RunContext(spark, str(tmp_path), "runA")  # same run dir -> resume
    resumed = {r["id"]: r["rank"] for r in pagerank_fog(edges, vertices, niters=6, ctx=ctx2).collect()}
    assert ctx2.last_committed()["superstep"] == 6
    assert resumed == clean  # bit-identical, not just allclose

    # and numerically identical (to float-sum reorder) to the plain run
    plain = {r["id"]: r["rank"] for r in pagerank_fog(edges, vertices, niters=6).collect()}
    assert np.allclose(
        [resumed[i] for i in range(g.n)], [plain[i] for i in range(g.n)], rtol=1e-12
    )

    # lineage recorded per superstep
    m = ctx2.metrics()
    assert all(sum(rec["lineage"].values()) == g.n for rec in m if rec["lineage"])


def test_vacuum_retention_and_resume(spark, tmp_path):
    """keep_last=K retention: a run dir stores O(K) snapshots, vacuuming
    mid-run never touches the resume point, and resume after vacuum is
    bit-identical to the unvacuumed run."""
    from fog_spark.engine import fs

    g = GRAPHS["g_er_n100"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")

    ctx0 = RunContext(spark, str(tmp_path), "runNoVac")
    clean = {r["id"]: r["rank"] for r in pagerank_fog(edges, vertices, niters=6, ctx=ctx0).collect()}

    ctx1 = RunContext(spark, str(tmp_path), "runVac", keep_last=2)
    pagerank_fog(edges, vertices, niters=4, ctx=ctx1)  # "crash" after step 4
    kept = sorted(n for n in fs.list_names(spark, f"{ctx1.root}/state") if n.startswith("step="))
    assert kept == ["step=00003", "step=00004"]  # O(keep_last), not O(supersteps)
    assert len(ctx1.metrics()) == 2

    ctx2 = RunContext(spark, str(tmp_path), "runVac", keep_last=2)  # resume
    resumed = {r["id"]: r["rank"] for r in pagerank_fog(edges, vertices, niters=6, ctx=ctx2).collect()}
    assert ctx2.last_committed()["superstep"] == 6
    assert resumed == clean  # bit-identical to the unvacuumed run

    # vacuum never deletes the resume point, even when it falls OUTSIDE
    # the keep window (newer commits lost their snapshots)
    ctx3 = RunContext(spark, str(tmp_path), "runProtect")
    state = spark.range(4).select("id", F.lit(1.0).alias("rank"))
    for step in range(1, 5):
        ctx3.write_state(state, step)
        ctx3.commit(step, active=4, delta=None, wall_s=0.0)
    ctx3.fmt.delete_partition("state", 3)
    ctx3.fmt.delete_partition("state", 4)
    assert ctx3.vacuum(keep_last=1) == [1, 3]  # keeps 4 (window) AND 2 (resume point)
    step, _ = ctx3.resume_point()
    assert step == 2


def test_cc_checkpointed_matches_plain(spark, tmp_path):
    g = GRAPHS["g_two_comp"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")
    ctx = RunContext(spark, str(tmp_path), "cc1")
    with_ckpt = {r["id"]: r["component"] for r in connected_components(edges, vertices, ctx=ctx).collect()}
    plain = {r["id"]: r["component"] for r in connected_components(edges, vertices).collect()}
    assert with_ckpt == plain
    assert len(ctx.metrics()) >= 1


def test_cc_resume_matches_clean(spark, tmp_path):
    g = GRAPHS["g_er_n100"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")
    ctx0 = RunContext(spark, str(tmp_path), "ccClean")
    clean = {r["id"]: r["component"] for r in connected_components(edges, vertices, ctx=ctx0).collect()}

    ctx1 = RunContext(spark, str(tmp_path), "ccResume")
    connected_components(edges, vertices, max_iters=2, ctx=ctx1)  # crash after 2 rounds
    assert ctx1.last_committed()["superstep"] == 2
    ctx2 = RunContext(spark, str(tmp_path), "ccResume")
    resumed = {r["id"]: r["component"] for r in connected_components(edges, vertices, ctx=ctx2).collect()}
    assert ctx2.last_committed()["superstep"] > 2
    assert resumed == clean


def test_cc_resume_capped_at_requested_depth(spark, tmp_path):
    """A run dir left by a fixed-point cc run must answer a shallower
    request with exactly that many rounds, not the deeper fixed point."""
    g = GRAPHS["g_line"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")

    def comps(**kw):
        return {r["id"]: r["component"] for r in connected_components(edges, vertices, **kw).collect()}

    fixed = comps(ctx=RunContext(spark, str(tmp_path), "ccDeep"))
    assert set(fixed.values()) == {0}
    shallow = comps(max_iters=1, ctx=RunContext(spark, str(tmp_path), "ccDeep"))
    assert shallow == comps(max_iters=1)
    assert shallow != fixed


@pytest.mark.parametrize("mode", ["standard", "personalized", "weighted"])
def test_pagerank_standard_resume(spark, tmp_path, mode):
    from fog_spark.algorithms.pagerank import pagerank_personalized, pagerank_standard, pagerank_weighted

    g = GRAPHS["g_er_n100"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")
    seeds = spark.createDataFrame([(0,), (7,)], "id long")
    run = {
        "standard": lambda **kw: pagerank_standard(edges, vertices, **kw),
        "personalized": lambda **kw: pagerank_personalized(edges, seeds, vertices, **kw),
        "weighted": lambda **kw: pagerank_weighted(edges, vertices, **kw),
    }[mode]
    ctx0 = RunContext(spark, str(tmp_path), "stdClean")
    clean_df, clean_iters = run(tol=1e-6, ctx=ctx0)
    clean = {r["id"]: r["rank"] for r in clean_df.collect()}

    ctx1 = RunContext(spark, str(tmp_path), "stdResume")
    run(tol=1e-6, max_iters=2, ctx=ctx1)  # crash mid-run
    ctx2 = RunContext(spark, str(tmp_path), "stdResume")
    res_df, total_iters = run(tol=1e-6, ctx=ctx2)
    resumed = {r["id"]: r["rank"] for r in res_df.collect()}
    assert total_iters == clean_iters
    assert resumed == clean  # same per-superstep plans -> bit-identical

    # resuming a CONVERGED run is a no-op returning the final state
    ctx3 = RunContext(spark, str(tmp_path), "stdResume")
    again_df, again_iters = run(tol=1e-6, ctx=ctx3)
    assert again_iters == total_iters
    assert {r["id"]: r["rank"] for r in again_df.collect()} == clean


def test_runcontext_on_scheme_qualified_path(spark, tmp_path):
    """All checkpoint IO goes through the Hadoop FileSystem API, so a
    scheme-qualified URI (file:/...; hdfs://, s3a:// in production)
    works identically to a bare local path — no Python os/shutil calls
    anywhere in the commit path."""
    uri = "file:" + str(tmp_path / "fsrun")
    g = GRAPHS["g_two_comp"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")
    ctx = RunContext(spark, uri, "fs1")
    got = {r["id"]: r["component"] for r in connected_components(edges, vertices, ctx=ctx).collect()}
    plain = {r["id"]: r["component"] for r in connected_components(edges, vertices).collect()}
    assert got == plain
    assert ctx.resume_point() is not None
    assert ctx.last_committed()["superstep"] >= 1


def test_resume_survives_damaged_metric_and_missing_state(spark, tmp_path):
    """A truncated metric record or a lost state snapshot must degrade to
    the previous complete commit, never raise (ADVICE: crash mid-append
    used to brick resume with JSONDecodeError)."""
    import shutil

    g = GRAPHS["g_er_n100"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")
    ctx = RunContext(spark, str(tmp_path), "dmg")
    pagerank_fog(edges, vertices, niters=3, ctx=ctx)
    assert ctx.resume_point()[0] == 3

    # damage 1: a truncated/garbage metric file for a later step
    (tmp_path / "dmg" / "metrics" / "step=00009.json").write_text('{"superstep": 9, "act')
    ctx2 = RunContext(spark, str(tmp_path), "dmg")
    assert ctx2.resume_point()[0] == 3  # garbage skipped, not fatal

    # damage 2: the newest state snapshot is gone -> walk back one step
    shutil.rmtree(tmp_path / "dmg" / "state" / "step=00003")
    ctx3 = RunContext(spark, str(tmp_path), "dmg")
    step, state = ctx3.resume_point()
    assert step == 2 and state.count() == g.n


def test_resume_works_without_success_marker(spark, tmp_path):
    """Clusters with marksuccessfuljobs=false write no _SUCCESS; resume
    must key on the atomically-renamed directory, not the marker."""
    g = GRAPHS["g_two_comp"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")
    ctx = RunContext(spark, str(tmp_path), "nosuccess")
    pagerank_fog(edges, vertices, niters=2, ctx=ctx)
    step = ctx.resume_point()[0]
    for p in (tmp_path / "nosuccess" / "state" / f"step={step:05d}").glob("_SUCCESS"):
        p.unlink()
    rp = RunContext(spark, str(tmp_path), "nosuccess").resume_point()
    assert rp is not None and rp[0] == step


def test_bfs_sssp_lpa_resume(spark, tmp_path):
    from fog_spark.algorithms import bfs_levels, label_propagation, sssp

    g = GRAPHS["g_er_n100"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")

    for name, fn, key in [
        ("bfs", lambda **kw: bfs_levels(edges, 0, vertices, **kw), "level"),
        ("sssp", lambda **kw: sssp(edges, 0, vertices, **kw), "dist"),
        ("lpa", lambda **kw: label_propagation(edges, vertices, **kw), "label"),
    ]:
        clean_ctx = RunContext(spark, str(tmp_path), f"{name}Clean")
        clean = {r["id"]: r[key] for r in fn(ctx=clean_ctx).collect()}
        ctx1 = RunContext(spark, str(tmp_path), f"{name}R")
        fn(max_iters=1, ctx=ctx1)  # crash after one superstep
        assert ctx1.last_committed()["superstep"] == 1
        ctx2 = RunContext(spark, str(tmp_path), f"{name}R")
        resumed = {r["id"]: r[key] for r in fn(ctx=ctx2).collect()}
        assert resumed == clean, name


def test_kcore_resume_matches_clean(spark, tmp_path):
    """Kill the peel after 1 round, resume with the same run dir, and
    the fixed point matches an uninterrupted run exactly."""
    from fog_spark.algorithms.kcore import k_core

    g = GRAPHS["g_er_n100"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")
    kk = 5
    clean = {r["id"]: r["degree"] for r in k_core(edges, k=kk, vertices=vertices).collect()}
    assert 0 < len(clean) < g.n  # the fixture must actually peel something

    ctx1 = RunContext(spark, str(tmp_path), "runK")
    k_core(edges, k=kk, vertices=vertices, rounds=1, ctx=ctx1)  # "crash" after round 1
    assert ctx1.last_committed()["superstep"] == 1

    ctx2 = RunContext(spark, str(tmp_path), "runK")
    resumed = {r["id"]: r["degree"]
               for r in k_core(edges, k=kk, vertices=vertices, ctx=ctx2).collect()}
    assert resumed == clean
    assert ctx2.last_committed()["superstep"] > 1

    # resuming a run already at its fixed-depth target returns the snapshot
    ctx3 = RunContext(spark, str(tmp_path), "runK")
    again = {r["id"]: r["degree"]
             for r in k_core(edges, k=kk, vertices=vertices, rounds=1, ctx=ctx3).collect()}
    one_round = {r["id"]: r["degree"]
                 for r in k_core(edges, k=kk, vertices=vertices, rounds=1).collect()}
    assert again == one_round


def test_lineage_from_footers_costs_zero_jobs(spark, tmp_path):
    """lineage_of on the just-committed state must come from the write's
    parquet footers (driver-side metadata), launching NO Spark job —
    the old shape re-scanned the full state once per checkpointed
    superstep. Totals must still equal the scan-based counts."""
    sc = spark.sparkContext
    ctx = RunContext(spark, str(tmp_path), "runL")
    df = spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("v")).repartition(7)
    state = ctx.write_state(df, 1)

    sc.setJobGroup("lineage-jobs", "lineage-jobs")
    try:
        lin = ctx.lineage_of(state)
    finally:
        sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup("lineage-jobs"))
    assert jobs == 0, f"footer-based lineage launched {jobs} Spark jobs"
    assert sum(lin.values()) == 1000
    # one entry per WRITE-task partition (the re-read scan may coalesce
    # small files, so the footer view is the committed partitioning)
    assert len(lin) == 7 and all(130 <= v <= 160 for v in lin.values())


def test_resume_capped_at_requested_depth(spark, tmp_path):
    """A run dir holding a DEEPER run than requested must return the
    requested iterate (not silently the deeper one), and must raise
    when retention vacuumed the requested step's snapshot."""
    g = GRAPHS["g_er_n100"]
    edges = graph_to_spark(spark, g)
    vertices = spark.range(g.n).select("id")

    ctx1 = RunContext(spark, str(tmp_path), "runDeep")
    deep = {r["id"]: r["rank"] for r in pagerank_fog(edges, vertices, niters=6, ctx=ctx1).collect()}
    # re-request a SHALLOWER depth from the same run dir
    ctx2 = RunContext(spark, str(tmp_path), "runDeep")
    shallow = {r["id"]: r["rank"] for r in pagerank_fog(edges, vertices, niters=3, ctx=ctx2).collect()}
    plain3 = {r["id"]: r["rank"] for r in pagerank_fog(edges, vertices, niters=3).collect()}
    assert shallow == pytest.approx(plain3, rel=1e-12)
    assert any(shallow[i] != deep[i] for i in range(g.n))

    # retention dropped the requested step -> loud failure, not a
    # silently deeper answer
    ctx3 = RunContext(spark, str(tmp_path), "runVac", keep_last=2)
    pagerank_fog(edges, vertices, niters=6, ctx=ctx3)
    ctx4 = RunContext(spark, str(tmp_path), "runVac", keep_last=2)
    with pytest.raises(ValueError, match="vacuumed"):
        pagerank_fog(edges, vertices, niters=3, ctx=ctx4)
