"""Shared machinery of the benchmark: spans, percentiles, value hashes,
process-tree RSS sampling, Spark counters and the run environment.

Nothing here imports pyspark at module load, so the pure helpers stay
testable without a JVM (see ``perfbench/tests``).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import platform
import re
import subprocess
import sys
import threading
import time

# -- percentiles ---------------------------------------------------------------

#: percentiles the benchmark may report, highest first
PERCENTILE_LADDER = (99.99, 99.9, 99.0, 95.0, 90.0, 50.0)


def rank_of(p: float, n: int) -> int:
    """1-based nearest-rank index of percentile ``p`` in ``n`` samples."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest ladder percentile with at least ``beyond`` samples above its
    rank, or None when even the median lacks them."""
    for p in PERCENTILE_LADDER:
        if n - rank_of(p, n) >= beyond:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (a measured sample, never interpolated)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[rank_of(p, len(s)) - 1]


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


# -- emission due times (stream_live) --------------------------------------------


def due_creation_ns(close_ns, event_ts_ns, event_created_ns, delay_ns: int):
    """Creation time of the first event that makes each result due.

    A result closing at ``close`` (``e2.ts`` of a match, ``window_end`` of a
    window, ``session_end`` of a session) is emitted once the watermark,
    max event time seen minus ``delay``, reaches it: the first event with
    ``ts >= close + delay``. ``event_ts_ns`` must be ascending and
    ``event_created_ns`` aligned with it. Returns -1 where no event makes
    the result due.
    """
    import numpy as np

    ts = np.asarray(event_ts_ns, dtype=np.int64)
    created = np.asarray(event_created_ns, dtype=np.int64)
    if len(ts) and (np.diff(ts) < 0).any():
        raise ValueError("event_ts_ns must be ascending")
    idx = np.searchsorted(ts, np.asarray(close_ns, dtype=np.int64) + delay_ns, "left")
    out = np.full(len(idx), -1, dtype=np.int64)
    ok = idx < len(ts)
    out[ok] = created[idx[ok]]
    return out


# -- value hash ------------------------------------------------------------------


def value_hash(pdf) -> str:
    """Order-insensitive value hash of a pandas frame: the convention of
    ``tools/simulate_driver.py`` (columns sorted by name, datetimes as naive
    int64, floats rounded to 4 places, rows sorted as strings)."""
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pd.to_datetime(pdf[c]).dt.tz_localize(None).astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(4)
    rows = sorted(tuple(map(str, r)) for r in pdf.itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def frames_equal(got, want, cols) -> bool:
    """Exact multiset equality of two frames on ``cols``: a duplicated or a
    missing row fails, unlike a set compare. Datetimes compare as naive ns,
    integers as int64, floats rounded to 4 places (the value-hash rules)."""
    import pandas as pd

    def norm(pdf):
        pdf = pdf[list(cols)].copy()
        for c in cols:
            s = pdf[c]
            if pd.api.types.is_datetime64_any_dtype(s):
                s = pd.to_datetime(s)
                if s.dt.tz is not None:
                    s = s.dt.tz_localize(None)
                pdf[c] = s.astype("datetime64[ns]").astype("int64")
            elif pd.api.types.is_bool_dtype(s):
                pdf[c] = s.astype(bool)
            elif pd.api.types.is_integer_dtype(s):
                pdf[c] = s.astype("int64")
            elif pd.api.types.is_float_dtype(s):
                pdf[c] = s.round(4)
            else:
                pdf[c] = s.astype(str)
        return pdf.sort_values(list(cols), kind="mergesort").reset_index(drop=True)

    if len(got) != len(want):
        return False
    return norm(got).equals(norm(want))


# -- spans -------------------------------------------------------------------------


class Tracer:
    """In-memory spans around the benchmark's own calls into engine modules.

    Disabled, ``span`` yields at once and records nothing. Enabled, each span
    also gets a Spark job group of its own (when a SparkContext is attached),
    so Spark's counters can be read back per span after the run.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    def attach(self, sc) -> None:
        self.sc = sc

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group, False)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "group": f"pb-{self.run_id}-{sid}",
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["group"] if self._stack else None)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it covered by its children
    (overlapping children are merged, not double-subtracted)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# -- Spark counters ----------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b")
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def parse_size_metric(text: str | None) -> int:
    """Bytes of a formatted SQL size metric: a bare ``'3.1 MiB'`` or the
    ``'total (min, med, max ...)\\n3.1 MiB (...)'`` form (the total is the
    first size on the second line)."""
    if not text:
        return 0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _SIZE_RE.search(line)
    if not m:
        return 0
    return int(float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)])


class SparkCounters:
    """Reads Spark's status stores (the UI can stay disabled): stage data of
    the app store, SQL metrics of the SQL store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        gw = self.sc._gateway
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()
        self._exec_cache: tuple[int | None, list] = (None, [])

    def jobs_of_group(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids_of_jobs(self, jobs) -> list[int]:
        out = []
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                out.extend(info.stageIds)
        return sorted(set(out))

    def stages(self, stage_ids) -> dict:
        tot = {"stages": 0, "tasks": 0, "gc_ms": 0, "run_ms": 0,
               "shuffle_write_b": 0, "spill_b": 0}
        for s in stage_ids:
            seq = self._store.stageData(s, False, self._no_status, False, self._no_quantiles)
            it = seq.iterator()
            while it.hasNext():
                sd = it.next()
                if str(sd.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks()
                tot["gc_ms"] += sd.jvmGcTime()
                tot["run_ms"] += sd.executorRunTime()
                tot["shuffle_write_b"] += sd.shuffleWriteBytes()
                tot["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return tot

    def python_bytes(self, jobs) -> tuple[int, int]:
        """Arrow bytes sent to / returned from Python workers by the SQL
        executions that ran ``jobs``."""
        jobs = set(jobs)
        if not jobs:
            return 0, 0
        sent = returned = 0
        for ejobs, (s, r) in self._execution_bytes():
            if ejobs & jobs:
                sent += s
                returned += r
        return sent, returned

    def _execution_bytes(self) -> list[tuple[set, tuple[int, int]]]:
        """(job ids, (bytes sent, bytes returned)) of every SQL execution,
        read from the JVM once and reused while no execution is added."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        if self._exec_cache[0] == n:
            return self._exec_cache[1]
        out = []
        it = sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            ki, ej = e.jobs().keysIterator(), set()
            while ki.hasNext():
                ej.add(int(ki.next()))
            vals = sql.executionMetrics(e.executionId())
            seen, b = set(), {PY_SENT: 0, PY_RETURNED: 0}
            mi = e.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                name, acc = m.name(), m.accumulatorId()
                if name not in b or acc in seen:
                    continue
                seen.add(acc)  # AQE re-plans repeat a node's accumulators
                v = vals.get(acc)
                b[name] += parse_size_metric(v.get() if v.isDefined() else None)
            out.append((ej, (b[PY_SENT], b[PY_RETURNED])))
        self._exec_cache = (n, out)
        return out

    def jobs_between(self, t0_ms: int, t1_ms: int) -> list[int]:
        """Jobs submitted in ``[t0_ms, t1_ms]`` (epoch ms), any job group:
        streaming queries run their jobs on threads of their own."""
        it = self._store.jobsList(self._no_status).iterator()
        out = []
        while it.hasNext():
            j = it.next()
            sub = j.submissionTime()
            if sub.isDefined() and t0_ms <= sub.get().getTime() <= t1_ms:
                out.append(j.jobId())
        return out

    def summary(self, jobs) -> dict:
        """Counters of a set of jobs, in the units the benchmark reports."""
        st = self.stages(self.stage_ids_of_jobs(jobs))
        sent, returned = self.python_bytes(jobs)
        mb = 1 << 20
        return {
            "jobs": len(set(jobs)),
            "stages": st["stages"],
            "tasks": st["tasks"],
            "gc_s": st["gc_ms"] / 1000.0,
            "executor_run_s": st["run_ms"] / 1000.0,
            "shuffle_write_mb": st["shuffle_write_b"] / mb,
            "spill_mb": st["spill_b"] / mb,
            "py_sent_mb": sent / mb,
            "py_returned_mb": returned / mb,
        }


def span_counters(tracer: Tracer, counters: SparkCounters) -> dict[int, dict]:
    """Per-span Spark counters, inclusive of child spans."""
    own = {s["id"]: counters.jobs_of_group(s["group"]) for s in tracer.spans}
    children: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def subtree_jobs(sid: int) -> list[int]:
        out = list(own[sid])
        for c in children.get(sid, []):
            out.extend(subtree_jobs(c))
        return out

    return {s["id"]: counters.summary(subtree_jobs(s["id"])) for s in tracer.spans}


# -- process-tree RSS ---------------------------------------------------------------


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pss_bytes(root: int) -> dict[str, int]:
    """Resident memory of ``root`` and its descendants by process name, as
    proportional set size: pages shared between forked Python workers count
    once, not once per worker."""
    kids = children_map()
    todo, out = [root], {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[name] = out.get(name, 0) + int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return out


class RssSampler:
    """Samples the summed PSS of this process and all its descendants (the
    JVM, the Python workers, the load generator) on a daemon thread; keeps
    the peak and its split by process name."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_process: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        by = tree_pss_bytes(os.getpid())
        total = sum(by.values())
        if total > self.peak:
            self.peak = total
            self.peak_by_process = {k: v / (1 << 20) for k, v in by.items()}

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# -- run environment ------------------------------------------------------------------


def source_digest(root: str) -> str:
    """sha256 over the engine's source files: identifies the code under test
    where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "eventflux_engine_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def java_version(spark) -> str:
    """The running JVM's name and version (no second JVM is started)."""
    prop = spark.sparkContext._jvm.java.lang.System.getProperty
    return f"{prop('java.vm.name')} {prop('java.runtime.version')}"


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def environment(root: str, seed: int, load_at_start: tuple, ticks_at_start: tuple,
                java: str | None) -> dict:
    import pyspark

    steal0, total0 = ticks_at_start
    steal1, total1 = cpu_ticks()
    return {
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "seed": seed,
        "loadavg_at_start": load_at_start,
        # CPU time the hypervisor gave to other guests during the run: host
        # contention, which no change to the engine can move
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
    }


def effective_conf(spark) -> dict:
    """The settings Spark actually runs with, read back from the session."""
    conf = spark.sparkContext.getConf()
    return {
        k: conf.get(k, None)
        for k in ("spark.master", "spark.driver.memory", "spark.local.dir",
                  "spark.sql.shuffle.partitions")
    }


def log(msg: str) -> None:
    """Progress lines go to stderr; stdout carries the report and result."""
    print(msg, file=sys.stderr, flush=True)
