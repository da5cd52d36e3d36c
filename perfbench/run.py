"""Engine benchmark: one seeded workload per process.

    python3 perfbench/run.py --workload cep_batch --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository. Everything the run
writes (inputs, Spark scratch, checkpoints, results) goes under
``.bench_work/`` in that checkout. Progress goes to stderr; stdout carries a
human report of every metric by name and unit, then, as its last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics and
writes the spans as JSONL. See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import core  # noqa: E402

#: workload name → module; ``cep_batch`` and ``sql_app`` are gated in BENCHMARK.json
WORKLOADS = {
    "cep_batch": "perfbench.cep_batch",
    "stream_live": "perfbench.stream_live",
    "sql_app": "perfbench.sql_app",
    "registry": "perfbench.registry",
}

#: pinned run environment (the engine's own defaults, 24g and /dev/shm, are
#: sized for a 32-core host); the heap starts at its full size (-Xms) because
#: G1's heap resizing made run-to-run timings and peak RSS wander
DRIVER_MEMORY = "2g"
HARD_LIMIT_S = 170.0

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "result_latency_ms": "ms",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "datamodel.stage_input_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_mb": "MB",
    "trace.throughput_per_s": "1/s",
}


class Context:
    """What a workload gets: arguments, its work directory, the tracer, and
    the hooks that mark set-up phases."""

    def __init__(self, args, work: str):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = ROOT
        self.work = work
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = core.Tracer(self.trace, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.java = None
        self.counters = None
        self.phase_s: dict[str, float] = {}
        self.setup_s: float | None = None

    def start_spark(self):
        """Build the engine's session (the ``session`` layer)."""
        from eventflux_engine_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}",
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
                },
            )
        self.phase_s["session.build_s"] = time.perf_counter() - t0
        self.java = core.java_version(self.spark)
        self.tracer.attach(self.spark.sparkContext)
        self.counters = core.SparkCounters(self.spark)
        return self.spark

    @property
    def tmp(self) -> str:
        return os.path.join(self.work, "tmp")

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one set-up phase (accumulated under ``name``), traced as a span."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name.removesuffix("_s")):
                yield
        finally:
            self.phase_s[name] = self.phase_s.get(name, 0.0) + time.perf_counter() - t0

    def setup_done(self) -> None:
        """Mark the first timed call: set-up time runs from process start."""
        self.setup_s = time.perf_counter() - PROCESS_START


def default_cpus() -> int:
    """One task slot fewer than the CPUs this process may use: the slot left
    free runs the Python driver, the JVM's compiler, GC and RPC threads and
    the Arrow feeders of Python workers. On a 4-CPU host, five cep_batch runs
    at ``local[4]`` spread 0.19 in throughput and 0.17 in fused latency, at
    ``local[3]`` 0.04 and 0.05, with the same median throughput."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def pin_environment(work: str, cpus: int | None) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus or default_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark_and_children(ctx: Context) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    if ctx.spark is not None:
        from pyspark import SparkContext

        try:
            ctx.spark.stop()
        finally:
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - any failure: kill below
                    proc.kill()
                    proc.wait(timeout=10)
    reap_descendants()


def descendants() -> list[int]:
    kids = core.children_map()
    todo, tree = list(kids.get(os.getpid(), [])), []
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(kids.get(p, []))
    return tree


def kill(pids) -> None:
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def reap_descendants(timeout_s: float = 20.0) -> None:
    """Wait for every descendant to end; kill what outlives the timeout."""
    deadline = time.time() + timeout_s
    while tree := descendants():
        if time.time() > deadline:
            kill(tree)
            deadline = time.time() + 5
        for p in tree:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def watchdog(limit_s: float) -> None:
    """Kill the whole process tree if a run overstays its limit."""

    def fire():
        time.sleep(limit_s)
        core.log(f"perfbench: run exceeded {limit_s:.0f} s, killing it")
        kill(descendants())
        os._exit(3)

    threading.Thread(target=fire, daemon=True).start()


def layer_metrics(ctx: Context, out: dict) -> dict:
    """The per-layer metrics every workload reports (trace runs).

    Spark's counters are per unit of work: the workload returns, as
    ``counted``, the jobs of its timed units and how many units they are
    (timed repetitions, or one fixed-size drain). A faster engine that fits
    more repetitions into ``--seconds`` then does not read as more jobs."""
    jobs, units = out.pop("counted") or ([], 1)  # None: the run failed before it counted
    s = ctx.counters.summary(jobs)
    per_unit = {k: v / units for k, v in s.items()}
    vals = {
        "session.build_s": ctx.phase_s.get("session.build_s", 0.0),
        "session.warmup_s": ctx.phase_s.get("session.warmup_s", 0.0),
        "datamodel.stage_input_s": ctx.phase_s.get("datamodel.stage_input_s", 0.0),
        **{f"spark.{k}": per_unit[k] for k in
           ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_mb")},
        "trace.throughput_per_s": out["end_to_end"]["throughput_per_s"],
    }
    out.setdefault("layers", {})["counted"] = {"units": units, "total": s, "per_unit": per_unit}
    return vals


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] cores (default: one fewer than the CPUs this process "
                         "may use); 1 gives the single-threaded baseline")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "eventflux_engine_spark")):
        core.log("perfbench: no engine package next to perfbench/; run from a checkout")
        return 2
    load0, ticks0 = os.getloadavg(), core.cpu_ticks()
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    results_dir = os.path.join(work_root, "results")
    os.makedirs(results_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    pin_environment(work, args.cpus)
    ctx = Context(args, work)
    mod = importlib.import_module(WORKLOADS[args.workload])
    watchdog(getattr(mod, "HARD_LIMIT_S", HARD_LIMIT_S))

    out: dict = {}
    try:
        with core.RssSampler() as rss:
            out = mod.run(ctx)
            if ctx.trace:
                out["per_layer"] = layer_metrics(ctx, out)
                out.setdefault("layers", {})["spans"] = span_report(ctx)
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        stop_spark_and_children(ctx)
        return 1
    stop_spark_and_children(ctx)
    shutil.rmtree(work, ignore_errors=True)

    out["env"] = core.environment(ROOT, args.seed, load0, ticks0, ctx.java)
    out["env"]["spark_conf"] = out.pop("spark_conf", None)
    out["end_to_end"]["setup_s"] = ctx.setup_s
    out["end_to_end"]["peak_rss_mb"] = rss.peak / (1 << 20)
    out["named"]["setup_s"] = (ctx.setup_s, "s")
    out["named"]["peak_rss_mb"] = (rss.peak / (1 << 20), "MB")
    out["peak_rss_by_process_mb"] = rss.peak_by_process
    attempted, failed = out["attempted"], out["failed"]
    out["named"]["failed_ratio"] = (failed / attempted, f"ratio of {attempted} ops")

    stem = os.path.join(results_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    if ctx.trace:
        ctx.tracer.write_jsonl(stem + ".spans.jsonl")
    with open(stem + ".json", "w") as f:
        json.dump(out, f, indent=1, default=str)

    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print("env " + json.dumps(out["env"], default=str))
    for name, (value, unit) in out["named"].items():
        print(f"metric {name} {value:.6g} {unit}")
    for name, value in sorted(out.get("layer_named", {}).items()):
        print(f"layer {name} {value:.6g}")
    for f in out.get("failures", []):
        print(f"failure {f}")
    print(f"results {os.path.relpath(stem + '.json', ROOT)}")

    if ctx.trace:
        metrics = {k: {"value": out["per_layer"][k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": out["end_to_end"][k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": bool(out["correct"]),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }))
    return 0


def span_report(ctx: Context) -> list[dict]:
    """Spans with self time and their Spark counters (inclusive)."""
    spans = ctx.tracer.spans
    selfs = core.self_times(spans)
    counters = core.span_counters(ctx.tracer, ctx.counters) if ctx.counters else {}
    for s in spans:
        s["self_s"] = selfs[s["id"]]
        s["spark"] = counters.get(s["id"])
    return spans


if __name__ == "__main__":
    sys.exit(main())
