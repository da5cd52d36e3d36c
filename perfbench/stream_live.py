"""Workload ``stream_live``: the transcript pipeline as a live Structured
Streaming app.

Three queries read one watched directory: ``cep.streaming.
match_pattern_stream`` (user→assistant WITHIN 30 min),
``streaming.pipelines.session_stream`` (1 s gap) and
``streaming.pipelines.tumbling_stream`` (2 s windows), each with a 1 s
watermark delay, each into an ``ExactlyOnceParquetSink`` with a checkpoint.

Live phase: ``perfbench/livegen.py``, a separate process, publishes one
parquet file per 0.2 s tick at a fixed rate (open loop); each event's event
time is its creation time. Emission latency is measured per output row whose
due event was created inside the measured window (see ``core.
due_creation_ns``), up to the ``committed_at`` of the epoch that holds it.

Catch-up phase: a seeded backlog of files is dropped at once and drained
closed loop; it ends with a far-future event on a conversation of its own
that moves every watermark past every result.

Not listed in BENCHMARK.json: a run holds one catch-up drain and a live
window of a few triggers, and in two sets of ten runs on a busy shared host
its metrics spread 0.22-0.40, past the gated bounds. Run it by name:

    python3 perfbench/suite.py --seeds 1-10 --no-trace stream_live
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import core
from perfbench.livegen import CONVS, TICK_S, Events, write_file

WARM_S = 4.0  # live, but before the measured window
COOL_S = 2.0  # live, after it: lets the window's results commit
BACKLOG_EVENTS = 200_000
BACKLOG_SPAN_S = 30.0  # event-time span of the backlog
DELAY_S = 1
TUMBLE_S = 2
GAP_S = 1
WITHIN = pd.Timedelta(minutes=30)
FLUSH_CONV = "zz-flush"
QUERIES = ("pattern", "session", "tumbling")
MAX_FILES_PER_TRIGGER = 100_000
CATCHUP_TIMEOUT_S = 60.0
SUT_NICE = 5  # scheduling handicap of the system under test vs the generator


# -- reference results (pandas, over every generated event) ----------------------


def reference(ev: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """Batch results of the three queries over ``ev`` (ts as int µs)."""
    ev = ev[ev["conv_id"] != FLUSH_CONV].sort_values(
        ["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    conv = ev["conv_id"].to_numpy()
    ts = ev["ts"].to_numpy()
    role = ev["role"].to_numpy()
    us = 1_000_000

    asst = np.flatnonzero(role == "assistant")
    users = np.flatnonzero(role == "user")
    nxt_i = np.searchsorted(asst, users, side="right")
    ok = nxt_i < len(asst)
    e1, e2 = users[ok], asst[nxt_i[ok]]
    keep = (conv[e2] == conv[e1]) & (ts[e2] - ts[e1] <= WITHIN.value // 1000)
    e1, e2 = e1[keep], e2[keep]
    pattern = pd.DataFrame({
        "conv_id": conv[e1], "e1_turn_idx": ev["turn_idx"].to_numpy()[e1], "e1_ts": ts[e1],
        "e2_turn_idx": ev["turn_idx"].to_numpy()[e2], "e2_ts": ts[e2],
    })

    new = np.r_[True, (conv[1:] != conv[:-1]) | (np.diff(ts) > GAP_S * us)]
    sid = np.cumsum(new)
    g = pd.DataFrame({"sid": sid, "conv_id": conv, "ts": ts}).groupby("sid")
    session = pd.DataFrame({
        "conv_id": g["conv_id"].first(), "n_turns": g.size(),
        "session_start": g["ts"].min(), "session_end": g["ts"].max() + GAP_S * us,
    }).reset_index(drop=True)

    ws = ts // (TUMBLE_S * us) * (TUMBLE_S * us)
    t = pd.DataFrame({"conv_id": conv, "ws": ws, "tool": (ev["tool"] != "").to_numpy()})
    g = t.groupby(["conv_id", "ws"])
    tumbling = pd.DataFrame({"turns": g.size(), "tool_calls": g["tool"].sum()}).reset_index()
    tumbling = tumbling.rename(columns={"ws": "window_start"})
    tumbling["window_end"] = tumbling["window_start"] + TUMBLE_S * us
    return {"pattern": pattern, "session": session, "tumbling": tumbling}


#: output columns compared, and the column whose time closes the result
COLUMNS = {
    "pattern": (["conv_id", "e1_turn_idx", "e1_ts", "e2_turn_idx", "e2_ts"], "e2_ts"),
    "session": (["conv_id", "n_turns", "session_start", "session_end"], "session_end"),
    "tumbling": (["conv_id", "turns", "tool_calls", "window_start", "window_end"], "window_end"),
}


def to_us(s: pd.Series) -> np.ndarray:
    if pd.api.types.is_datetime64_any_dtype(s):
        s = pd.to_datetime(s)
        if s.dt.tz is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.astype("datetime64[us]").astype("int64").to_numpy()
    return s.to_numpy().astype("int64")


# -- the app ----------------------------------------------------------------------


class Progress:
    """Every progress event of every query, as plain dicts."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        rows = self.rows = []
        lock = self.lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                rec = {
                    "name": p.name, "batch": p.batchId, "timestamp": p.timestamp,
                    "rows": p.numInputRows, "duration": dict(p.durationMs or {}),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                    "late": sum(o.numRowsDroppedByWatermark for o in ops),
                    "wall": time.time(),
                }
                with lock:
                    rows.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def frame(self) -> pd.DataFrame:
        with self.lock:
            return pd.DataFrame(list(self.rows))


def start_queries(ctx, feed: str, sinks: dict, sink_ms: dict) -> list:
    from pyspark.sql import functions as F

    from eventflux_engine_spark.cep import PatternSpec, Step
    from eventflux_engine_spark.cep.streaming import match_pattern_stream
    from eventflux_engine_spark.datamodel import TRANSCRIPT_SCHEMA
    from eventflux_engine_spark.streaming import pipelines as P
    from eventflux_engine_spark.streaming import stream_from_dir

    spec = PatternSpec(steps=(Step("e1", "is_user"), Step("e2", "is_assistant")), within=WITHIN)
    stream = stream_from_dir(ctx.spark, feed, TRANSCRIPT_SCHEMA, MAX_FILES_PER_TRIGGER)
    stream = stream.withColumn("is_user", F.col("role") == "user").withColumn(
        "is_assistant", F.col("role") == "assistant")
    wm = f"{DELAY_S} seconds"
    outs = {
        "pattern": match_pattern_stream(stream, spec, watermark_delay=wm),
        "session": P.session_stream(stream, f"{GAP_S} seconds", ["conv_id"],
                                    [F.count(F.lit(1)).alias("n_turns")], watermark=wm),
        "tumbling": P.tumbling_stream(stream, f"{TUMBLE_S} seconds", ["conv_id"], [
            F.count(F.lit(1)).alias("turns"),
            F.count(F.when(F.col("tool") != "", 1)).alias("tool_calls"),
        ], watermark=wm),
    }
    qs = []
    for name, df in outs.items():
        write = sinks[name].foreach_batch()
        if ctx.trace:
            write = _timed(write, sink_ms[name])
        qs.append(
            df.writeStream.queryName(name).foreachBatch(write)
            .option("checkpointLocation", os.path.join(ctx.work, f"ckpt_{name}"))
            .outputMode("append").start()
        )
    return qs


def _timed(write, out: list):
    def timed(df, epoch_id):
        t0 = time.perf_counter()
        write(df, epoch_id)
        out.append((epoch_id, 1000.0 * (time.perf_counter() - t0)))

    return timed


def sink_rows(sink) -> pd.DataFrame:
    """Committed rows of a sink with the ``committed_at`` of their epoch."""
    frames = []
    for c in sink.commits():
        d = os.path.join(sink.data_dir, f"epoch={c['epoch_id']}")
        if c["rows"] == 0 or not os.path.isdir(d):
            continue
        pdf = pq.read_table(d).to_pandas()
        pdf["epoch"] = c["epoch_id"]
        pdf["committed_at"] = c["committed_at"]
        frames.append(pdf)
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def read_events(paths) -> pd.DataFrame:
    ev = pa.concat_tables([pq.read_table(p) for p in paths]).to_pandas()
    ev["ts"] = to_us(ev["ts"])
    return ev


def backlog(seed: int, turns: list[int], after_us: int, tmp: str, out: str) -> int:
    """Write the seeded backlog (event times just after the live phase),
    ending with the flush event, as one file in ``out``, so that a single
    rename publishes all of it; returns the number of events."""
    ev = Events(seed + 7919, CONVS)
    ev.turns[:] = turns
    cols = ev.draw(BACKLOG_EVENTS)
    base = after_us + DELAY_S * 1_000_000
    ts = (base + np.arange(BACKLOG_EVENTS) * int(BACKLOG_SPAN_S * 1e6 / BACKLOG_EVENTS)).tolist()
    for k, v in (("conv_id", FLUSH_CONV), ("turn_idx", 0), ("role", "system"),
                 ("text", "flush"), ("tool", "")):
        cols[k] = list(cols[k]) + [v]
    ts.append(base + int(BACKLOG_SPAN_S * 1e6) + 3600 * 1_000_000)
    write_file(cols, ts, tmp, out, "backlog.parquet")
    return BACKLOG_EVENTS + 1


def run(ctx) -> dict:
    feed, tmp, staged = (os.path.join(ctx.work, d) for d in ("feed", "gen_tmp", "backlog"))
    for d in (feed, tmp, staged):
        os.makedirs(d)
    log_path = os.path.join(ctx.work, "livegen.json")
    # the generator starts before Spark and keeps the default priority;
    # this process, and the JVM and Python workers it launches, run niced
    gen = subprocess.Popen(
        [sys.executable, "-m", "perfbench.livegen", "--out", feed, "--tmp", tmp,
         "--log", log_path, "--seed", str(ctx.seed)],
        cwd=ctx.root, stdin=subprocess.PIPE, text=True,
    )
    try:
        os.nice(SUT_NICE)
        return _run(ctx, gen, feed, tmp, staged, log_path)
    finally:
        if gen.poll() is None:
            gen.stdin.close()
            gen.wait(timeout=60)


def _run(ctx, gen, feed: str, tmp: str, staged: str, log_path: str) -> dict:
    from eventflux_engine_spark.streaming.sink import ExactlyOnceParquetSink

    tr = ctx.tracer
    spark = ctx.start_spark()
    sinks = {q: ExactlyOnceParquetSink(os.path.join(ctx.work, f"table_{q}")) for q in QUERIES}
    sink_ms = {q: [] for q in QUERIES}
    prog = Progress()
    spark.streams.addListener(prog.listener)

    with ctx.phase("session.warmup_s"):
        with tr.span("streaming.start"):
            qs = start_queries(ctx, feed, sinks, sink_ms)
    ctx.setup_done()

    # -- live phase (open loop) --
    live_s = WARM_S + ctx.seconds + COOL_S
    t_start = time.time() + 0.2
    measured = (t_start + WARM_S, t_start + WARM_S + ctx.seconds)
    with tr.span("streaming.live"):
        gen.stdin.write(json.dumps({"start": t_start, "duration": live_s}) + "\n")
        gen.stdin.close()
        rc = gen.wait(timeout=live_s + 60)
        if rc != 0:
            raise RuntimeError(f"load generator exited with {rc}")
        for q in qs:
            q.processAllAvailable()
        quiesce(prog)
    with open(log_path) as f:
        genlog = json.load(f)

    # -- catch-up phase (closed loop) --
    with ctx.phase("datamodel.stage_input_s"):
        live = read_events(sorted(glob.glob(os.path.join(feed, "live-*.parquet"))))
        n_backlog = backlog(ctx.seed, genlog["turns"], int(live["ts"].max()), tmp, staged)
        events = read_events(sorted(glob.glob(os.path.join(feed, "live-*.parquet")))
                             + sorted(glob.glob(os.path.join(staged, "*.parquet"))))
        want = reference(events)
    with tr.span("streaming.catchup"):
        t_drop = time.time()
        for f in sorted(os.listdir(staged)):
            os.rename(os.path.join(staged, f), os.path.join(feed, f))
        t_done = wait_drained(sinks, {q: len(want[q]) for q in QUERIES}, t_drop)
    for q in qs:
        q.stop()

    # -- checks and latency, outside the timed regions --
    with tr.span("check"):
        got = {q: sink_rows(sinks[q]) for q in QUERIES}
        pf = prog.frame()
        failures = []
        for q in QUERIES:
            cols, _ = COLUMNS[q]
            g = got[q].copy()
            if len(g):
                for c in cols:
                    if c.endswith("_ts") or c.startswith(("session_", "window_")):
                        g[c] = to_us(g[c])
            if not len(g) or not core.frames_equal(g, want[q], cols):
                failures.append(f"{q}: sink holds {len(g)} rows, batch reference {len(want[q])}")
            got[q] = g
        late = int(pf["late"].sum()) if len(pf) else 0
        if late:
            failures.append(f"{late} rows dropped as too late")
        if t_done is None:
            failures.append("catch-up did not drain within the timeout")

    lat = latencies(got, events, measured)
    gen_late_ms = [1000.0 * (t["published"] - t["due"]) for t in genlog["ticks"]]
    behind = max(gen_late_ms) > 1000.0 * TICK_S
    if behind:
        failures.append(f"run invalid: generator fell {max(gen_late_ms):.0f} ms behind "
                        f"(tick {1000 * TICK_S:.0f} ms)")
    n = len(lat)
    tail = core.tail_percentile(n)
    p50 = core.percentile(lat, 50) if n else float("nan")
    named = {
        "emit_latency_p50_ms": (p50, f"ms, n={n}"),
        "catchup_events_per_s": (
            n_backlog / (t_done - t_drop) if t_done else float("nan"), "events/s"),
        "live_events": (len(live), "events"),
        "backlog_events": (n_backlog, "events"),
    }
    if tail is not None and tail > 50:
        named[f"emit_latency_p{tail:g}_ms"] = (core.percentile(lat, tail), f"ms, n={n}")
    layer_named = streaming_layers(pf, sink_ms, genlog, measured, ctx)
    layer_named["streaming.gen_late_ms_p99"] = core.percentile(gen_late_ms, 99)
    counted = None
    if ctx.trace and t_done is not None:
        # one unit of work: the drain of the fixed backlog; the live phase's
        # job count grows with the trigger rate, so it is not counted
        counted = (ctx.counters.jobs_between(int(t_drop * 1000), int(t_done * 1000) + 1), 1)
    # operations: the output rows the three sinks must hold
    attempted = sum(len(want[q]) for q in QUERIES)
    failed = attempted if failures else 0
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "end_to_end": {
            "throughput_per_s": named["catchup_events_per_s"][0],
            "result_latency_ms": p50,
        },
        "named": named,
        "layer_named": layer_named,
        "counted": counted,
        "progress": pf.to_dict("records"),
        "spark_conf": core.effective_conf(spark),
    }


def quiesce(prog: Progress, timeout_s: float = 15.0) -> None:
    """Wait until each query's latest batch read no input: the batch that
    emits what the last live files made due has run."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        with prog.lock:
            last = {r["name"]: r["rows"] for r in prog.rows}
        if len(last) == len(QUERIES) and not any(last.values()):
            return
        time.sleep(0.05)


def wait_drained(sinks: dict, want_rows: dict, t_drop: float) -> float | None:
    """Poll commit markers until every sink holds all expected rows; returns
    the latest ``committed_at`` among the commits that completed them."""
    while time.time() - t_drop < CATCHUP_TIMEOUT_S:
        done = []
        for q, sink in sinks.items():
            commits = sink.commits()
            if sum(c["rows"] for c in commits) < want_rows[q]:
                break
            done.append(max(c["committed_at"] for c in commits))
        else:
            return max(done)
        time.sleep(0.05)
    return None


def latencies(got: dict, events: pd.DataFrame, measured: tuple) -> list[float]:
    """Emission latency (ms) of every output row whose due event was created
    inside the measured window. Live events' event time is their creation
    time, so the due event's ``ts`` is its creation time."""
    ev = np.sort(events.loc[events["conv_id"] != FLUSH_CONV, "ts"].to_numpy())
    lo, hi = int(measured[0] * 1e6), int(measured[1] * 1e6)
    out = []
    for q in QUERIES:
        g = got[q]
        if not len(g):
            continue
        _, close_col = COLUMNS[q]
        due = core.due_creation_ns(g[close_col].to_numpy() * 1000, ev * 1000, ev * 1000,
                                   DELAY_S * 1_000_000_000) // 1000
        sel = (due >= lo) & (due < hi)
        out.extend((1000.0 * g["committed_at"].to_numpy()[sel] - due[sel] / 1000.0).tolist())
    return out


def streaming_layers(pf: pd.DataFrame, sink_ms: dict, genlog: dict, measured, ctx) -> dict:
    """Per-query trigger anatomy of the measured live window, plus state."""
    out = {}
    if not len(pf):
        return out
    lo, hi = measured
    for q in QUERIES:
        p = pf[pf["name"] == q]
        win = p[(p["wall"] >= lo) & (p["wall"] < hi)]
        for key, col in (("trigger_ms_p50", "triggerExecution"), ("add_batch_ms_p50", "addBatch"),
                         ("planning_ms_p50", "queryPlanning")):
            vals = [d.get(col, 0) for d in win["duration"]]
            if vals:
                out[f"streaming.{q}.{key}"] = core.percentile(vals, 50)
        if sink_ms[q]:
            out[f"streaming.{q}.sink_write_ms_p50"] = core.percentile([m for _, m in sink_ms[q]], 50)
        out[f"streaming.{q}.state_rows"] = int(p["state_rows"].iloc[-1])
        out[f"streaming.{q}.state_mb"] = float(p["state_bytes"].iloc[-1]) / (1 << 20)
        out[f"streaming.{q}.late_dropped_rows"] = int(p["late"].sum())
        out[f"streaming.{q}.batches"] = len(p)
    lag = input_lag_s(ctx, genlog, pf)
    if lag:
        out["streaming.input_lag_s_p99"] = core.percentile(lag, 99)
    return out


def input_lag_s(ctx, genlog: dict, pf: pd.DataFrame) -> list[float]:
    """Per live batch: newest file published when the batch started minus
    newest file the batch ingested (from the file source's offset log)."""
    pub = sorted((t["published"], t["tick"]) for t in genlog["ticks"])
    pub_t = np.array([p for p, _ in pub])
    tick_pub = {k: p for p, k in pub}
    out = []
    for q in QUERIES:
        starts = {}
        for _, r in pf[pf["name"] == q].iterrows():
            starts[r["batch"]] = pd.Timestamp(r["timestamp"]).timestamp()
        ingested: dict[int, int] = {}  # batch → newest live tick it read
        for path in glob.glob(os.path.join(ctx.work, f"ckpt_{q}", "sources", "0", "*")):
            with open(path) as f:
                for line in f.read().splitlines()[1:]:
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    if name.startswith("live-"):
                        b = int(e["batchId"])
                        ingested[b] = max(ingested.get(b, -1), int(name[5:11]))
        for batch, tick in ingested.items():
            if batch not in starts:
                continue
            i = np.searchsorted(pub_t, starts[batch], side="right") - 1
            if i >= 0:
                out.append(max(0.0, pub_t[i] - tick_pub[tick]))
    return out
