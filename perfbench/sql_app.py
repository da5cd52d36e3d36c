"""Workload ``sql_app``: one EventFlux SQL application through ``EventFluxApp``.

The app holds a ``PARTITION WITH`` block with a linear pattern and a pattern
with a cross-step condition (``e2=Turns[role = 'assistant' AND tokens >
e1.tokens]``), a ``WINDOW('tumbling', …) GROUP BY`` and a stream-driven
``UPDATE`` of a TABLE. A batch repetition builds a fresh app: ``execute()``,
``send()`` of the seeded events, then ``run()`` of every target and
``table()`` of the table. The timed steps alternate a batch repetition and
one ``run_streaming()`` of the linear pattern target, a real Structured
Streaming job through the streaming NFA, while the next step fits in
``--seconds`` (at least ``MIN_REPS`` and ``MIN_STREAMS``). Each call's wall
is reported as its median over the repetitions, so that a burst of host
contention during one call of one repetition, or a first repetition still
warming up, does not move the result. One untimed repetition on a separate,
smaller input (``WARM_EVENTS``), and one ``run_streaming()`` call, warm up:
worker start, code generation, the JIT and the streaming start-up.
References are computed in pandas from the same rows.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from perfbench import core

EVENTS = 10_000  # Turns events per repetition
WARM_EVENTS = 3000  # Turns events of the untimed warm-up repetition
CONVS = 60
CHARGE_EVERY = 4  # one Charges event per this many Turns events
SEND_CHUNK = 500
MIN_REPS = 3  # a repetition takes 6-9 s on 4 CPUs
MIN_STREAMS = 2  # a run_streaming() call about 5 s, nearly all of it fixed cost
WINDOW_S = 60

APP_SQL = f"""
CREATE STREAM Turns (conv VARCHAR, role VARCHAR, tokens INT);
CREATE STREAM Charges (conv VARCHAR, tokens INT);
CREATE STREAM Opened (conv VARCHAR, spent INT);
CREATE STREAM Replies (conv VARCHAR, t1 INT, t2 INT);
CREATE STREAM Growth (conv VARCHAR, t1 INT, t2 INT);
CREATE STREAM Volume (conv VARCHAR, n BIGINT, total BIGINT);
CREATE TABLE Budget (conv VARCHAR, spent INT);
PARTITION WITH (conv OF Turns)
BEGIN
    INSERT INTO Replies
    SELECT e1.conv AS conv, e1.tokens AS t1, e2.tokens AS t2
    FROM PATTERN (EVERY (e1=Turns[role = 'user'] -> e2=Turns[role = 'assistant']));
    INSERT INTO Growth
    SELECT e1.conv AS conv, e1.tokens AS t1, e2.tokens AS t2
    FROM PATTERN (EVERY (e1=Turns[role = 'user']
                         -> e2=Turns[role = 'assistant' AND tokens > e1.tokens]));
END;
INSERT INTO Volume
SELECT conv, COUNT(*) AS n, SUM(tokens) AS total
FROM Turns WINDOW('tumbling', {WINDOW_S} SECONDS) GROUP BY conv;
INSERT INTO Budget SELECT conv, spent FROM Opened;
UPDATE Budget SET spent = Budget.spent + Charges.tokens FROM Charges
WHERE Budget.conv = Charges.conv;
"""

TARGETS = ("Replies", "Growth", "Volume")
STREAM_TARGET = "Replies"


class Inputs:
    """Seeded rows and the order ``send()`` receives them in; ``seq`` is the
    app's global arrival sequence (one clock second per event)."""

    def __init__(self, seed: int, n: int):
        rng = np.random.default_rng(seed)
        convs = [f"c{i:03d}" for i in range(CONVS)]
        self.opened = [(c, int(v)) for c, v in zip(convs, rng.integers(0, 1000, CONVS))]
        roles = np.array(["user", "assistant", "tool", "system"])[
            rng.choice(4, n, p=[0.4, 0.3, 0.2, 0.1])]
        conv = rng.integers(0, CONVS, n)
        tokens = rng.integers(1, 500, n)
        self.turns = [(convs[c], str(r), int(t)) for c, r, t in zip(conv, roles, tokens)]
        m = n // CHARGE_EVERY
        self.charges = [(convs[c], int(t)) for c, t in
                        zip(rng.integers(0, CONVS, m), rng.integers(1, 50, m))]
        # send order: Opened, then Turns chunks, each followed by its Charges
        self.plan = [("Opened", self.opened)]
        per = SEND_CHUNK // CHARGE_EVERY
        for i in range(0, n, SEND_CHUNK):
            self.plan.append(("Turns", self.turns[i:i + SEND_CHUNK]))
            j = i // CHARGE_EVERY
            if self.charges[j:j + per]:
                self.plan.append(("Charges", self.charges[j:j + per]))
        seq, turn_seq = 0, []
        for stream, rows in self.plan:
            if stream == "Turns":
                turn_seq.extend(range(seq, seq + len(rows)))
            seq += len(rows)
        self.turn_seq = np.array(turn_seq)
        self.events = seq

    def send(self, app) -> None:
        for stream, rows in self.plan:
            app.send(stream, rows)

    def reference(self) -> dict[str, list[tuple]]:
        t = pd.DataFrame(self.turns, columns=["conv", "role", "tokens"])
        t["seq"] = self.turn_seq
        replies, growth = [], []
        for conv, g in t.groupby("conv", sort=False):
            role, tok = g["role"].to_numpy(), g["tokens"].to_numpy()
            asst = np.flatnonzero(role == "assistant")
            for i in np.flatnonzero(role == "user"):
                later = asst[asst > i]
                if len(later):
                    replies.append((conv, int(tok[i]), int(tok[later[0]])))
                bigger = later[tok[later] > tok[i]]
                if len(bigger):
                    growth.append((conv, int(tok[i]), int(tok[bigger[0]])))
        w = t.assign(win=t["seq"] // WINDOW_S).groupby(["conv", "win"])["tokens"]
        volume = [(c, int(n), int(s)) for (c, _), n, s in zip(w.size().index, w.size(), w.sum())]
        spent = dict(self.opened)
        for c, v in self.charges:
            spent[c] += v
        return {
            "Replies": sorted(replies),
            "Growth": sorted(growth),
            "Volume": sorted(volume),
            "Budget": sorted(spent.items()),
        }


def one_rep(ctx, inputs: Inputs, rep: int | None) -> tuple[dict, dict, object]:
    """execute + send + run of every target; returns walls, outputs, app."""
    from eventflux_engine_spark.sql.app import EventFluxApp

    tr, walls, outs = ctx.tracer, {}, {}
    t0 = time.perf_counter()
    with tr.span("sql.execute", rep=rep):
        app = EventFluxApp(ctx.spark).execute(APP_SQL)
    walls["execute"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tr.span("sql.send", rep=rep):
        inputs.send(app)
    walls["send"] = time.perf_counter() - t0
    for t in TARGETS:
        t0 = time.perf_counter()
        with tr.span(f"sql.run.{t}", rep=rep):
            outs[t] = app.run(t)
        walls[t] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tr.span("sql.table.Budget", rep=rep):
        outs["Budget"] = app.table("Budget")
    walls["Budget"] = time.perf_counter() - t0
    return walls, outs, app


def run(ctx) -> dict:
    ctx.start_spark()
    tr = ctx.tracer
    with ctx.phase("datamodel.stage_input_s"):
        inputs = Inputs(ctx.seed, EVENTS)
        warm = Inputs(ctx.seed + 1, WARM_EVENTS)
    with ctx.phase("session.warmup_s"):
        # an untimed repetition and call: worker start, code generation, JIT,
        # and the streaming start-up, so that the timed calls do not pay them
        _, _, warm_app = one_rep(ctx, warm, None)
        warm_app.run_streaming(STREAM_TARGET)

    ctx.setup_done()
    reps, attempted, errors, outs = [], 0, [], None
    streamed, stream_walls = [], []
    t0_measure = time.perf_counter()
    with tr.span("measure"):
        # alternate a batch repetition and a run_streaming() call (a kind that
        # has its minimum waits for the other) while the next step, as long
        # as the last of its kind, still fits
        step_s = {"batch": 0.0, "stream": 0.0}
        while True:
            need_reps, need_streams = len(reps) < MIN_REPS, len(stream_walls) < MIN_STREAMS
            if need_reps != need_streams:
                kind = "batch" if need_reps else "stream"
            else:
                kind = "stream" if len(stream_walls) < len(reps) else "batch"
            if (not need_reps and not need_streams
                    and time.perf_counter() - t0_measure + step_s[kind] > ctx.seconds):
                break
            attempted += 1
            t0 = time.perf_counter()
            if kind == "batch":
                try:
                    walls, outs, app = one_rep(ctx, inputs, len(reps))
                except Exception as e:  # noqa: BLE001 - count, stop measuring
                    errors.append(f"batch repetition: {type(e).__name__}: {e}")
                    break
                reps.append(walls)
            else:
                try:
                    with tr.span("sql.run_streaming", call=len(stream_walls)):
                        streamed.append(app.run_streaming(STREAM_TARGET))
                except Exception as e:  # noqa: BLE001 - count, stop measuring
                    errors.append(f"run_streaming: {type(e).__name__}: {e}")
                    break
                stream_walls.append(time.perf_counter() - t0)
            step_s[kind] = time.perf_counter() - t0
    stream_s = core.median(stream_walls) if stream_walls else float("nan")

    failures = list(errors)
    failed = len(errors)
    if outs is not None:
        want = inputs.reference()
        for t, rows in want.items():
            if sorted(outs[t]) != rows:
                failures.append(f"{t}: run() gave {len(outs[t])} rows, reference {len(rows)}")
        for rows in streamed:
            if sorted(rows) != sorted(outs[STREAM_TARGET]):
                failures.append(f"run_streaming({STREAM_TARGET}) differs from run()")
        if len(failures) > len(errors):
            failed = attempted
    med = {k: core.median([r[k] for r in reps]) for k in reps[0]} if reps else {}
    # events over the sum of the per-call medians: a typical repetition
    rate = inputs.events / sum(med.values()) if med else float("nan")
    layer_named = {
        "sql.execute_ms": 1000.0 * med.get("execute", float("nan")),
        "sql.send_s": med.get("send", float("nan")),
        "sql.run_streaming_s": stream_s,
        **{f"sql.{t}.run_s": med[t] for t in (*TARGETS, "Budget") if t in med},
        "reps": len(reps),
    }
    counted = None
    if ctx.trace and reps:
        by_name: dict[str, list[int]] = {}
        for s in tr.spans:
            if s.get("rep") is not None:
                by_name.setdefault(s["name"], []).extend(ctx.counters.jobs_of_group(s["group"]))
        for t in TARGETS:
            c = ctx.counters.summary(by_name.get(f"sql.run.{t}", []))
            layer_named[f"sql.{t}.jobs"] = c["jobs"] / len(reps)
            layer_named[f"sql.{t}.py_sent_mb"] = c["py_sent_mb"] / len(reps)
        # units of work: the batch repetitions (run_streaming is timed apart)
        counted = ([j for jobs in by_name.values() for j in jobs], len(reps))
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "end_to_end": {
            "throughput_per_s": rate,
            "result_latency_ms": 1000.0 * stream_s,
        },
        "named": {
            "sql_events_per_s": (rate, "events/s"),
            "sql_stream_s": (stream_s, "s"),
            "events": (inputs.events, "events"),
            "reps": (len(reps), "reps"),
        },
        "layer_named": layer_named,
        "counted": counted,
        "reps": reps,
        "stream_walls": stream_walls,
        "spark_conf": core.effective_conf(ctx.spark),
    }
