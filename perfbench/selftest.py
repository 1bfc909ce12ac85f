"""Self-test of the benchmark at tiny scale (about five minutes on 4 cores).

    python3 perfbench/selftest.py

For every workload it runs the benchmark untraced and traced on the
tiny inputs (TPC-H sf0.001 part/order counts; a 10 x 200 repo table) and
checks that:

- every output check passes;
- every metric BENCHMARK.json names is emitted with its unit;
- traced and untraced runs give identical outputs;
- the traced run finds the supersteps each algorithm call is known to
  run (10 for ``pagerank_fog(niters=10)``, 6 for the run resumed from
  step 6 to 12, the returned iteration count for ``pagerank_standard``)
  and Spark jobs, tasks and shuffle reads inside them;
- checkpoint metrics are non-zero only on the workload that checkpoints.

It also checks that the benchmark exits non-zero, printing no result, in
a directory that holds only BENCHMARK.json and this directory. Exits
non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 7

# supersteps each algorithm call runs, where known in advance; None: at least one
KNOWN_STEPS = {
    "cooccur-dense": {"pagerank_1e6": "iters", "pagerank_fog10": 10, "lpa": None, "cc_hashmin": None, "triangles": 0},
    "repo-sparse-durable": {"pagerank_fog10": 10, "pagerank_fog6": 6, "pagerank_fog12_resumed": 6, "cc_hashmin": None},
}


def fail(msg: str) -> None:
    print(f"selftest FAILED: {msg}")
    sys.exit(1)


def same_outputs(a: dict, b: dict) -> bool:
    for key, x in a.items():
        y = b[key]
        if key.endswith("_s"):  # timings
            continue
        if hasattr(x, "sort_values"):
            x, y = x.sort_values(list(x.columns)), y.sort_values(list(y.columns))
            if not (x.columns.equals(y.columns) and np.array_equal(x.to_numpy(), y.to_numpy())):
                return False
        elif x != y:
            return False
    return True


def check_supersteps(name: str, spans: list[dict], metrics: dict) -> None:
    algos = {sp["name"]: sp for sp in spans if sp["layer"] == "algorithms"}
    if set(algos) != set(KNOWN_STEPS[name]):
        fail(f"{name}: traced algorithm calls {sorted(algos)}")
    for algo, want in KNOWN_STEPS[name].items():
        got = algos[algo]["supersteps"]
        if want == "iters":
            want = algos[algo]["iters"]
        if (got < 1) if want is None else (got != want):
            fail(f"{name}/{algo}: traced {got} supersteps, expected {'at least 1' if want is None else want}")
    value = {k: m["value"] for k, m in metrics.items()}
    if value["superstep.count"] != sum(sp["supersteps"] for sp in algos.values()):
        fail(f"{name}: superstep.count {value['superstep.count']} is not the sum over the algorithm calls")
    for key in ("superstep.jobs_per_step", "superstep.tasks", "superstep.shuffle_read_mb", "derive.jobs"):
        if not value[key] > 0:
            fail(f"{name}: {key} = {value[key]}: Spark jobs are not attributed to the spans")
    if name == "repo-sparse-durable" and value["resume.steps_skipped"] != 6:
        fail(f"{name}: resume.steps_skipped = {value['resume.steps_skipped']}, expected 6")


def check_bare_directory(work: str) -> None:
    bare = os.path.join(work, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cmd = spec["command"] + ["--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare)
    if proc.returncode == 0 or proc.stdout.strip():
        fail(f"bare directory run exited {proc.returncode} with stdout {proc.stdout!r}")


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if {w["name"] for w in spec["workloads"]} != set(WORKLOADS):
        fail("BENCHMARK.json workloads differ from perfbench/workloads.py")

    work = os.path.join(ROOT, ".perfbench_work")
    run._isolate_io(work)
    check_bare_directory(work)

    checkpointing = {}
    for name in WORKLOADS:
        for trace, want in ((False, e2e), (True, layer)):
            res = run.run(name, SEED, 1, trace, scale="tiny")
            label = f"{name} trace={int(trace)}"
            if not res["correct"]:
                fail(f"{label}: output checks failed: {res['failures']}")
            got = {k: m["unit"] for k, m in res["metrics"].items()}
            if got != want:
                fail(f"{label}: metrics/units {got} differ from BENCHMARK.json {want}")
            print(f"selftest: {label} emits all {len(want)} metrics; checks pass")
        # a traced process runs the workload untraced, then traced
        outs = res["outputs"]
        if not all(same_outputs(outs[0], o) for o in outs[1:]):
            fail(f"{name}: traced and untraced outputs differ")
        spans = json.load(open(os.path.join(work, f"trace-{name}-s{SEED}.json")))
        check_supersteps(name, spans, res["metrics"])
        checkpointing[name] = res["metrics"]["checkpoint.write_s"]["value"] > 0
    if checkpointing != {"cooccur-dense": False, "repo-sparse-durable": True}:
        fail(f"checkpoint metrics non-zero on the wrong workloads: {checkpointing}")
    print("selftest: traced == untraced outputs; supersteps and their jobs found; checkpoints only on repo-sparse-durable")
    print("selftest: OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
