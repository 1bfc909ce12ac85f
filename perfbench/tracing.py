"""Benchmark-side tracing: spans around public calls, Spark job labels,
and per-layer numbers reduced from Spark's event log.

Nothing here runs inside the program. A traced run wraps the public
functions of the engine layers (``engine.superstep.materialize`` and its
observed variant, ``prepare_gather_edges``, ``degrees_and_vertices``,
``engine.skew.pick_hub_keys`` and the ``RunContext`` methods) from the
benchmark's own code, opens a span around each call, and labels every
Spark job submitted inside the span with the span id through a thread
local property. Spans stay in memory until the run ends; the event log
then supplies job intervals and task metrics, grouped by those labels.

An untraced run uses ``Tracer(None)``: it only times the workload's
algorithm calls (two clock reads each), sets no job labels and installs
no wrappers.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

SPAN_PROPERTY = "perfbench.span"

# algorithm modules whose module-level engine imports are wrapped
_ALGO_MODULES = ("pagerank", "cc", "lpa")
_ENGINE_CALLS = ("materialize", "materialize_observed", "prepare_gather_edges", "degrees_and_vertices")


class Tracer:
    """Span recorder. With ``sc`` None it only times ``span`` blocks."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "parent": parent, "name": name, "layer": layer, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]))
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, None if parent is None else str(parent))

    # -- wrappers around the program's public calls -------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        original = getattr(owner, attr)
        self._undo.append((owner, attr, original))
        setattr(owner, attr, functools.wraps(original)(wrapper(original)))

    def install(self) -> None:
        """Wrap the engine calls the algorithms make (traced runs only)."""
        import importlib

        from fog_spark.engine.checkpoint import RunContext

        for mod_name in _ALGO_MODULES:
            mod = importlib.import_module(f"fog_spark.algorithms.{mod_name}")
            for call in _ENGINE_CALLS:
                if hasattr(mod, call):
                    self._patch(mod, call, self._engine_wrapper(call))
            if hasattr(mod, "pick_hub_keys"):
                self._patch(mod, "pick_hub_keys", self._hub_wrapper)
        self._patch(RunContext, "write_state", self._write_state_wrapper)
        self._patch(RunContext, "commit", self._simple_wrapper("commit", "engine.checkpoint"))
        self._patch(RunContext, "resume_point", self._resume_wrapper("resume_point"))
        self._patch(RunContext, "resume_point_at_most", self._resume_wrapper("resume_point_at_most"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def _engine_wrapper(self, call: str):
        def wrap(fn):
            def traced(*args, **kwargs):
                step = kwargs.get("step")
                if step is None and call in ("materialize", "materialize_observed"):
                    pos = 2 if call == "materialize" else 3
                    step = args[pos] if len(args) > pos else None
                with self.span(call, "engine.superstep", step=step):
                    return fn(*args, **kwargs)

            return traced

        return wrap

    def _hub_wrapper(self, fn):
        def traced(*args, **kwargs):
            with self.span("pick_hub_keys", "engine.skew") as rec:
                salted, hubs = fn(*args, **kwargs)
                rec["hub_keys"] = hubs.count() if salted and hubs is not None else 0
            return salted, hubs

        return traced

    def _simple_wrapper(self, name: str, layer: str):
        def wrap(fn):
            def traced(*args, **kwargs):
                with self.span(name, layer):
                    return fn(*args, **kwargs)

            return traced

        return wrap

    def _write_state_wrapper(self, fn):
        def traced(ctx, df, step, name="state"):
            with self.span("write_state", "engine.checkpoint", step=step) as rec:
                out = fn(ctx, df, step, name=name)
                # ParquetDirFormat layout: <root>/<name>/step=00042/
                files, size = _dir_usage(f"{ctx.root}/{name}/step={step:05d}")
                rec["files"], rec["bytes"] = files, size
            return out

        return traced

    def _resume_wrapper(self, name: str):
        def wrap(fn):
            def traced(*args, **kwargs):
                with self.span(name, "engine.checkpoint") as rec:
                    out = fn(*args, **kwargs)
                    rec["resumed_step"] = out[0] if out is not None else 0
                return out

            return traced

        return wrap

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# -- event log ------------------------------------------------------------


def _event_log_files(log_dir: str) -> list[str]:
    """The event log files of the one application logged in log_dir."""
    (app,) = [os.path.join(log_dir, n) for n in os.listdir(log_dir) if not n.startswith(".")]
    if not os.path.isdir(app):
        return [app]
    # Spark 4 rolling layout: eventlog_v2_<app>/events_<k>_<app>
    parts = [n for n in os.listdir(app) if n.startswith("events_")]
    return [os.path.join(app, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]


def _events(log_dir: str):
    for path in _event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the uncompressed event log in log_dir.

    jobs: {id, span, t0, t1}; tasks: {job, shuffle_write, shuffle_read,
    blocks, spill}. A stage's tasks belong to the first job that lists
    the stage: later jobs list it only as skipped."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            jobs[jid] = {
                "id": jid,
                "span": int(span) if span is not None else None,
                "t0": ev["Submission Time"] / 1000.0,
                "t1": None,
            }
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "job": stage_job.get(ev["Stage ID"]),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "blocks": sr.get("Remote Blocks Fetched", 0) + sr.get("Local Blocks Fetched", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
    return sorted(jobs.values(), key=lambda j: j["id"]), tasks


def _descendants(spans: list[dict], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    out, stack = set(), [root]
    while stack:
        sid = stack.pop()
        out.add(sid)
        stack.extend(children.get(sid, []))
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def superstep_split(spans: list[dict], algo: dict) -> tuple[float, list[tuple[float, float]], float]:
    """(preamble_s, [(step_t0, step_t1)], teardown_s) of one algorithm span.

    A superstep ends when a ``materialize`` call with step >= 1 returns,
    and starts where the previous one ended; the first starts after the
    last engine preamble call (step-0 cut, degree aggregate, edge
    alignment) that returned before it. So preamble + supersteps +
    teardown is the algorithm's wall by construction."""
    inside = _descendants(spans, algo["id"])
    engine = sorted(
        (s for s in spans if s["id"] in inside and s["layer"] == "engine.superstep" and s["id"] != algo["id"]),
        key=lambda s: s["t0"],
    )
    cuts = [s for s in engine if s["name"].startswith("materialize") and (s.get("step") or 0) >= 1]
    if not cuts:
        return algo["t1"] - algo["t0"], [], 0.0
    pre_ends = [s["t1"] for s in engine if s["t1"] <= cuts[0]["t0"] and s not in cuts]
    start = max(pre_ends) if pre_ends else algo["t0"]
    steps = []
    for c in cuts:
        steps.append((start, c["t1"]))
        start = c["t1"]
    return steps[0][0] - algo["t0"], steps, algo["t1"] - start


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def layer_metrics(spans: list[dict], jobs: list[dict], tasks: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one traced workload run (see BENCHMARK.md)."""
    by_job: dict[int, list[dict]] = {}
    for t in tasks:
        by_job.setdefault(t["job"], []).append(t)

    def span_jobs(sid: int) -> list[dict]:
        ids = _descendants(spans, sid)
        return [j for j in jobs if j["span"] in ids]

    def job_sum(js: list[dict], key: str) -> int:
        return sum(t[key] for j in js for t in by_job.get(j["id"], []))

    mb = 1024.0 * 1024.0
    out: dict[str, float] = {}

    derive = [s for s in spans if s["name"] == "derive"]
    if derive:
        d = derive[-1]
        dj = span_jobs(d["id"])
        out["derive.wall_s"] = d["t1"] - d["t0"]
        out["derive.edges"] = d.get("edges", 0)
        out["derive.jobs"] = len(dj)
        out["derive.shuffle_write_mb"] = job_sum(dj, "shuffle_write") / mb
        out["derive.spill_mb"] = job_sum(dj, "spill") / mb
    else:
        for k in ("wall_s", "edges", "jobs", "shuffle_write_mb", "spill_mb"):
            out[f"derive.{k}"] = 0

    step_walls, step_gaps = [], []
    step_jobs: list[dict] = []
    preamble = teardown = 0.0
    algos = [s for s in spans if s["layer"] == "algorithms"]
    for a in algos:
        pre, steps, tear = superstep_split(spans, a)
        a["supersteps"] = len(steps)
        if not steps:  # triangles: one pass, no superstep loop
            continue
        preamble += pre
        teardown += tear
        inside = _descendants(spans, a["id"])
        ajobs = [j for j in jobs if j["span"] in inside and j["t1"] is not None]
        for lo, hi in steps:
            sj = [j for j in ajobs if lo <= j["t0"] < hi]
            step_jobs.extend(sj)
            step_walls.append(hi - lo)
            step_gaps.append(hi - lo - _covered([(j["t0"], j["t1"]) for j in sj], lo, hi))
    n_steps = len(step_walls)
    per_step = max(n_steps, 1)
    out["superstep.count"] = n_steps
    out["superstep.wall_ms.p50"] = _pct(step_walls, 50) * 1000.0
    out["superstep.wall_ms.p90"] = _pct(step_walls, 90) * 1000.0
    out["superstep.jobs_per_step"] = len(step_jobs) / per_step
    out["superstep.driver_gap_ms"] = _pct(step_gaps, 50) * 1000.0
    out["superstep.shuffle_write_mb"] = job_sum(step_jobs, "shuffle_write") / mb / per_step
    out["superstep.shuffle_read_mb"] = job_sum(step_jobs, "shuffle_read") / mb / per_step
    out["superstep.shuffle_blocks"] = job_sum(step_jobs, "blocks") / per_step
    out["superstep.tasks"] = sum(len(by_job.get(j["id"], [])) for j in step_jobs) / per_step
    out["preamble.wall_s"] = preamble
    out["teardown.wall_s"] = teardown

    writes = [s for s in spans if s["name"] == "write_state"]
    commits = [s for s in spans if s["name"] == "commit"]
    n_w = max(len(writes), 1)
    out["checkpoint.write_s"] = sum(s["t1"] - s["t0"] for s in writes)
    out["checkpoint.commit_s"] = sum(s["t1"] - s["t0"] for s in commits)
    out["checkpoint.bytes_per_step"] = sum(s["bytes"] for s in writes) / n_w
    out["checkpoint.files_per_step"] = sum(s["files"] for s in writes) / n_w
    resumes = [s for s in spans if s["name"].startswith("resume_point") and s["parent"] is not None
               and spans[s["parent"]]["layer"] == "algorithms" and spans[s["parent"]].get("resume")]
    out["resume.locate_s"] = sum(s["t1"] - s["t0"] for s in resumes)
    out["resume.steps_skipped"] = sum(s["resumed_step"] for s in resumes)
    out["skew.hub_keys"] = sum(s.get("hub_keys", 0) for s in spans if s["name"] == "pick_hub_keys")

    for key, metric in ALGO_KEYS.items():
        calls = [a for a in algos if a["name"] == key]
        out[f"{key}.wall_s"] = sum(a["t1"] - a["t0"] for a in calls)
        if metric:
            out[f"{key}.{metric}"] = sum(a.get(metric, a["supersteps"]) for a in calls)
    return out


# bench.py's key names; the second field is the count each one reports
ALGO_KEYS = {
    "pagerank_1e6": "iters",
    "pagerank_fog10": None,
    "lpa": "supersteps",
    "cc_hashmin": "supersteps",
    "triangles": None,
}
