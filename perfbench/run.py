"""fogspark benchmark: one workload run, end-to-end or traced.

    python3 perfbench/run.py --workload cooccur-dense --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench_work/`` (nothing is read from outside the
checkout), sets up a Spark session and the workload's inputs several
times, then times workload runs for ``--seconds`` and checks every
run's outputs against references computed outside Spark.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` then runs
the workload once more, traced, in a second JVM (spans from this
directory's code, Spark event log) and reports the per-layer metrics.
The last stdout line is the JSON result; BENCHMARK.md explains every
metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# warm set-ups per run, after one cold one; setup_s is their median
SETUPS = 3
DRIVER_MEM = "1g"
# pre-flight guard: wait (bounded) while other processes keep the box busy
FOREIGN_CPU_MAX_PCT = 15.0
FOREIGN_WAIT_MAX_S = 20.0

END_TO_END = {"setup_s": "s", "run_s": "s", "pagerank_edges_per_s_per_core": "1/s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from tracing import ALGO_KEYS

    units = {
        "session.start_s": "s",
        "derive.wall_s": "s",
        "derive.edges": "count",
        "derive.jobs": "count",
        "derive.shuffle_write_mb": "MB",
        "derive.spill_mb": "MB",
        "superstep.count": "count",
        "superstep.wall_ms.p50": "ms",
        "superstep.wall_ms.p90": "ms",
        "superstep.jobs_per_step": "count",
        "superstep.driver_gap_ms": "ms",
        "superstep.shuffle_write_mb": "MB",
        "superstep.shuffle_read_mb": "MB",
        "superstep.shuffle_blocks": "count",
        "superstep.tasks": "count",
        "preamble.wall_s": "s",
        "teardown.wall_s": "s",
        "jvm_gc_s": "s",
        "checkpoint.write_s": "s",
        "checkpoint.commit_s": "s",
        "checkpoint.bytes_per_step": "bytes",
        "checkpoint.files_per_step": "count",
        "resume.locate_s": "s",
        "resume.steps_skipped": "count",
        "resume_s": "s",
        "skew.hub_keys": "count",
        "cache.persisted_after_run": "count",
        "box.steal_pct": "%",
        "box.foreign_cpu_pct": "%",
        "trace.overhead_pct": "%",
        "error_rate": "ratio",
    }
    for key, count in ALGO_KEYS.items():
        units[f"{key}.wall_s"] = "s"
        if count:
            units[f"{key}.{count}"] = "count"
    return units


# -- process tree and session lifetime --------------------------------------


def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid_s in os.listdir("/proc"):
        if not pid_s.isdigit():
            continue
        try:
            with open(f"/proc/{pid_s}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid_s))
    out, stack = [], [root_pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def reset_peak_rss() -> None:
    """Restart every tree member's peak-RSS counter (clear_refs 5)."""
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> dict[str, float]:
    """VmHWM of each member of the Python + JVM process tree, by name."""
    out: dict[str, float] = {}
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        key = f"{fields['Name'].strip()}-{pid}"
        out[key] = int(fields.get("VmHWM", "0 kB").split()[0]) / 1024.0
    return out


def start_session(work: str, cores: int, event_log: str | None = None):
    from fog_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "false",
        # a fixed-size heap: peak RSS then does not hinge on G1's resizing
        "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                # Spark 4 defaults to zstd; the reader here is plain json
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", cpus=cores, shuffle_partitions=cores, extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


# -- one benchmark run ---------------------------------------------------------


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, scale: str = "bench"):
        from workloads import SIZES, WORKLOADS

        self.seconds, self.trace = seconds, trace
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        t0 = time.time()
        self.wl = WORKLOADS[workload](SIZES[scale], seed, self.work)
        self.inputs_s = time.time() - t0
        self.spark = None
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.outputs: list[dict] = []

    def _setup(self, tracer, event_log=None) -> tuple[dict, float, float]:
        if self.spark is not None:
            self.spark.stop()
        t0 = time.time()
        self.spark = start_session(self.work, self.cores, event_log)
        if event_log:
            tracer.sc = self.spark.sparkContext
        t1 = time.time()
        st = self.wl.setup(self.spark, tracer)
        return st, t1 - t0, time.time() - t0

    def _boot(self, tracer=None, event_log: str | None = None) -> tuple[dict, dict]:
        """Start a JVM, write the Spark-generated inputs, then set up
        1 + SETUPS times: one cold set-up, then SETUPS warm ones. With a
        tracer, the last set-up is traced and logs Spark events. The last
        set-up's session holds the returned workload state."""
        from tracing import Tracer

        t0 = time.time()
        # the JVM starts outside set-up, so that every set-up measures the
        # same thing: a new session on a running JVM
        self.spark = start_session(self.work, self.cores)
        boot = {"jvm_start_s": time.time() - t0}
        t0 = time.time()
        self.wl.prepare(self.spark)
        boot["prepare_s"] = time.time() - t0
        setups, sessions = [], []
        for i in range(SETUPS + 1):
            if i == SETUPS and tracer is not None:
                tracer.install()
                st, session_s, setup_s = self._setup(tracer, event_log)
            else:
                st, session_s, setup_s = self._setup(Tracer())
            setups.append(setup_s)
            sessions.append(session_s)
        boot["setups"], boot["sessions"] = setups, sessions
        return st, boot

    def _one_run(self, st, tracer) -> tuple[float, dict]:
        t0 = time.time()
        out = self.wl.run(self.spark, st, tracer)
        wall = time.time() - t0
        bad = self.wl.check(out)
        self.attempted += 1
        if bad:
            self.failed += 1
            self.failures.extend(bad)
        self.outputs.append(out)
        return wall, out

    def measure(self) -> dict:
        from fog_spark.benchutil import BoxMeter, foreign_busy_pct
        from tracing import Tracer

        info: dict = {"inputs_s": self.inputs_s}
        t0 = time.time()
        fb = foreign_busy_pct(1.0)
        while fb > FOREIGN_CPU_MAX_PCT and time.time() - t0 < FOREIGN_WAIT_MAX_S:
            time.sleep(2.0)
            fb = foreign_busy_pct(1.0)
        info["preflight_foreign_cpu_pct"], info["preflight_s"] = fb, time.time() - t0

        st, boot = self._boot()
        info.update(jvm_start_s=boot["jvm_start_s"], prepare_s=boot["prepare_s"], setup_runs_s=boot["setups"])
        untraced = Tracer()
        meter = BoxMeter()
        walls, fog_rates, persisted, resumes = [], [], [], []
        base_persisted = persisted_rdds(self.spark)
        reset_peak_rss()
        t_start = time.time()
        while not walls or time.time() - t_start + statistics.median(walls) <= self.seconds:
            untraced.spans.clear()
            meter.start()
            wall, out = self._one_run(st, untraced)
            tele = meter.stop()
            walls.append(wall)
            fog_rates.append(self._fog_rate(untraced.spans))
            persisted.append(persisted_rdds(self.spark) - base_persisted)
            if "resume_s" in out:
                resumes.append(out["resume_s"])
            info.setdefault("box", []).append(tele)
        info["peak_rss_mb"] = peak_rss_mb()
        info["run_walls_s"], info["persisted_after_each_run"] = walls, persisted
        self.wl.teardown(st)

        # the first run after set-up is the measure; JIT warm-up makes later
        # runs of the same process a different quantity (BENCHMARK.md)
        metrics = {
            "setup_s": statistics.median(boot["setups"][1:]),
            "run_s": walls[0],
            "pagerank_edges_per_s_per_core": fog_rates[0],
            "peak_rss_mb": sum(info["peak_rss_mb"].values()),
        }
        info["error_rate"] = self.failed / self.attempted
        if resumes:
            info["resume_s"] = resumes[0]
        if not self.trace:
            return {"metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}, "info": info}

        layer = self._traced_run(walls[0], statistics.median(boot["sessions"][1:]))
        layer["error_rate"] = self.failed / self.attempted
        units = per_layer_units()
        missing = set(units) - set(layer)
        if missing:
            raise RuntimeError(f"per-layer metrics not produced: {sorted(missing)}")
        return {"metrics": {k: {"value": layer[k], "unit": units[k]} for k in units}, "info": info}

    def _fog_rate(self, spans: list[dict]) -> float:
        (fog,) = [s for s in spans if s["name"] == "pagerank_fog10"]
        return self.wl.m * 10 / (fog["t1"] - fog["t0"]) / self.cores

    def _traced_run(self, untraced_wall: float, session_s: float) -> dict:
        """Run the workload traced in a second JVM that goes through the
        same start, input preparation and set-ups as the first. The traced
        run is then, like the untraced one it is compared with, the first
        run after set-up in a fresh JVM, so JIT warm-up does not enter
        trace.overhead_pct."""
        from fog_spark.benchutil import BoxMeter
        from tracing import Tracer, layer_metrics, read_event_log

        self.spark.stop()
        self.spark = None
        shutdown_jvm()
        log_dir = os.path.join(self.work, "eventlog")
        tracer = Tracer()
        try:
            st, _ = self._boot(tracer, event_log=log_dir)
            base_persisted = persisted_rdds(self.spark)
            gc0 = jvm_gc_s(self.spark)
            meter = BoxMeter()
            meter.start()
            wall, out = self._one_run(st, tracer)
            tele = meter.stop()
            gc_s = jvm_gc_s(self.spark) - gc0
            leaked = persisted_rdds(self.spark) - base_persisted
            self.wl.teardown(st)
        finally:
            tracer.uninstall()
        self.spark.stop()
        self.spark = None
        jobs, tasks = read_event_log(log_dir)
        layer = layer_metrics(tracer.spans, jobs, tasks)
        tracer.dump(os.path.join(ROOT, ".perfbench_work", f"trace-{self.wl.name}-s{self.wl.seed}.json"))
        layer.update(
            {
                "session.start_s": session_s,
                "jvm_gc_s": gc_s,
                "resume_s": out.get("resume_s", 0.0),
                "cache.persisted_after_run": leaked,
                "box.steal_pct": tele["steal_pct"],
                "box.foreign_cpu_pct": tele["foreign_cpu_pct"],
                "trace.overhead_pct": 100.0 * (wall - untraced_wall) / untraced_wall,
            }
        )
        return layer

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutdown_jvm()
        shutil.rmtree(self.work, ignore_errors=True)


def _isolate_io(work_root: str) -> None:
    """Keep every temp and spill file of the run inside the checkout."""
    tmp = os.path.join(work_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_root, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["FOGSPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str = "bench") -> dict:
    bench = Bench(workload, seed, seconds, trace, scale)
    try:
        res = bench.measure()
        res["outputs"] = bench.outputs
    finally:
        bench.close()
    res.update(
        correct=bench.failed == 0, attempted=bench.attempted, failed=bench.failed, failures=bench.failures
    )
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import fog_spark  # noqa: F401
        import pyspark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    _isolate_io(os.path.join(ROOT, ".perfbench_work"))
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    info = res["info"]
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"inputs_s={info['inputs_s']:.2f} jvm_start_s={info['jvm_start_s']:.2f} prepare_s={info['prepare_s']:.2f} "
        f"runs={info['run_walls_s']} setups={info['setup_runs_s']} "
        f"error_rate={info['error_rate']} resume_s={info.get('resume_s', 'n/a')} "
        f"persisted_after_each_run={info['persisted_after_each_run']} peak_rss_mb={info['peak_rss_mb']} "
        f"box={info['box']}"
    )
    for msg in res["failures"]:
        print(f"perfbench: check failed: {msg}")
    for name, m in res["metrics"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": res["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
