"""Workload ``cep_batch``: the north-star transcript pipeline in batch.

Seeded transcripts are staged as parquet in two layouts of the same rows:
arrival order (global ``ts`` order, conversations interleaved) and
conversation-bucketed (one file per core, whole conversations, sorted by
``(conv_id, ts, turn_idx)``). Each timed repetition runs
``cep.match_pattern_batch`` (user→assistant WITHIN 30 min, the linear path
with its exchange), ``operators.windows.session`` and
``operators.windows.tumbling`` on the arrival copy, then
``cep.fused.fused_transcript_pipeline(input_sorted=True)`` on the bucketed
copy. Every call is materialized by a ``noop`` write. DuckDB computes the
reference results over the staged parquet outside the timed region.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import core

TURNS = 250_000
TURNS_PER_CONV = 200
MIN_REPS = 6
WARM_REPS = 4  # with 2, the first timed repetitions still ran up to 40% slower (JIT)
ROLES = np.array(["user", "assistant", "tool", "system"])
ROLE_P = np.array([0.4, 0.3, 0.2, 0.1])
WORDS = np.array(
    "hello check the logs run tests fix bug deploy now why slow "
    "plan query rows join merge".split()
)


def gen_transcripts(seed: int, n_turns: int, turns_per_conv: int) -> pd.DataFrame:
    """Seeded transcripts, whole-second timestamps. Per conversation: a start
    within 12 h of 2024-01-01, a base gap of 60-179 s plus 0-29 s jitter per
    turn, and a 40-120 min pause before 3% of turns (breaks sessions and the
    30-minute WITHIN)."""
    rng = np.random.default_rng(seed)
    n_convs = n_turns // turns_per_conv
    conv = np.repeat(np.arange(n_convs), turns_per_conv)
    turn = np.tile(np.arange(turns_per_conv, dtype=np.int32), n_convs)
    base = rng.integers(60, 180, n_convs)[conv]
    gap = base + rng.integers(0, 30, len(conv))
    pause = rng.random(len(conv)) < 0.03
    gap = np.where(pause, rng.integers(2400, 7200, len(conv)), gap)
    gap[turn == 0] = 0
    start = rng.integers(0, 12 * 3600, n_convs)[conv]
    offs = np.cumsum(gap) - np.repeat(np.cumsum(gap)[turn == 0], turns_per_conv)
    ts_s = 1_704_067_200 + start + offs
    role = ROLES[rng.choice(4, len(conv), p=ROLE_P)]
    tool = np.where(role == "tool", np.where(rng.random(len(conv)) < 0.5, "search", "exec"), "")
    text = WORDS[rng.integers(0, len(WORDS), len(conv))]
    conv_ids = np.array([f"conv{c:06d}" for c in range(n_convs)])[conv]
    return pd.DataFrame({
        "conv_id": conv_ids,
        "turn_idx": turn,
        "role": role,
        "text": text,
        "tool": tool,
        "ts": pd.to_datetime(ts_s, unit="s"),
    })


def _table(pdf: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(pdf, preserve_index=False).cast(pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ]))


def stage(pdf: pd.DataFrame, out: str, cores: int) -> tuple[str, str]:
    """Write the arrival-order and the bucketed copies; returns their dirs.

    The bucketed copy has exactly one single-row-group file per core and
    equal conversation counts per file, so Spark maps each file to one
    partition: conversation integrity and sort order hold per partition,
    the ``input_sorted=True`` contract.
    """
    arrival, bucketed = os.path.join(out, "arrival"), os.path.join(out, "bucketed")
    os.makedirs(arrival)
    os.makedirs(bucketed)
    by_ts = pdf.sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
    for i, part in enumerate(np.array_split(np.arange(len(by_ts)), cores)):
        pq.write_table(_table(by_ts.iloc[part]), os.path.join(arrival, f"part-{i:03d}.parquet"))
    code = pdf["conv_id"].str[4:].astype(int) % cores
    for b in range(cores):
        part = pdf[code == b].sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
        pq.write_table(_table(part), os.path.join(bucketed, f"bucket-{b:03d}.parquet"),
                       row_group_size=len(part) + 1)
    return arrival, bucketed


class Pipeline:
    """The four timed engine calls over one staged input."""

    def __init__(self, spark, arrival: str, bucketed: str):
        from pyspark.sql import functions as F

        from eventflux_engine_spark.cep import PatternSpec, Step
        from eventflux_engine_spark.datamodel import TRANSCRIPT_SCHEMA

        def flagged(df):
            return df.withColumn("is_user", F.col("role") == "user").withColumn(
                "is_assistant", F.col("role") == "assistant")

        self.F = F
        self.spec = PatternSpec(
            steps=(Step("e1", "is_user"), Step("e2", "is_assistant")),
            within=pd.Timedelta(minutes=30),
        )
        self.arrival = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(arrival)
        self.flagged = flagged(self.arrival)
        self.bucketed = flagged(spark.read.schema(TRANSCRIPT_SCHEMA).parquet(bucketed))

    def pattern(self):
        from eventflux_engine_spark.cep import match_pattern_batch

        return match_pattern_batch(self.flagged, self.spec)

    def session(self):
        from eventflux_engine_spark.operators import windows

        F = self.F
        return windows.session(self.arrival, "30 minutes", ["conv_id"],
                               [F.count(F.lit(1)).alias("n_turns")])

    def tumbling(self):
        from eventflux_engine_spark.operators import windows

        F = self.F
        return windows.tumbling(self.arrival, "5 minutes", ["conv_id"], [
            F.count(F.lit(1)).alias("turns"),
            F.count(F.when(F.col("tool") != "", 1)).alias("tool_calls"),
        ])

    def fused(self):
        from eventflux_engine_spark.cep.fused import fused_transcript_pipeline

        return fused_transcript_pipeline(self.bucketed, self.spec, input_sorted=True)


#: (span name, Pipeline method); the first three make turns_per_s
CALLS = (
    ("cep.match_pattern_batch", "pattern"),
    ("operators.windows.session", "session"),
    ("operators.windows.tumbling", "tumbling"),
    ("cep.fused.fused_transcript_pipeline", "fused"),
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


REFERENCE_SQL = {
    "pattern": """
        WITH t AS (
          SELECT conv_id, turn_idx, role, ts,
                 row_number() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
          FROM src WHERE role IN ('user', 'assistant')),
        n AS (
          SELECT *, min(CASE WHEN role = 'assistant' THEN rn END) OVER (
                   PARTITION BY conv_id ORDER BY rn
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
          FROM t)
        SELECT a.conv_id, a.turn_idx AS e1_turn_idx, a.ts AS e1_ts,
               b.turn_idx AS e2_turn_idx, b.ts AS e2_ts
        FROM n a JOIN t b ON a.conv_id = b.conv_id AND b.rn = a.nxt
        WHERE a.role = 'user' AND b.ts - a.ts <= INTERVAL 30 MINUTE""",
    "session": """
        WITH t AS (
          SELECT conv_id, ts, lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS p
          FROM src),
        s AS (
          SELECT *, sum(CASE WHEN p IS NULL OR ts - p > INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
                 OVER (PARTITION BY conv_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          FROM t)
        SELECT conv_id, count(*) AS n_turns,
               CAST(epoch(min(ts)) AS BIGINT) AS session_start,
               CAST(epoch(max(ts)) AS BIGINT) + 1800 AS session_end
        FROM s GROUP BY conv_id, sid""",
    "tumbling": """
        SELECT conv_id, count(*) AS turns,
               count(*) FILTER (WHERE tool <> '') AS tool_calls,
               CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
               CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) + 300 AS window_end
        FROM src GROUP BY conv_id, floor(epoch(ts) / 300)""",
}

COLUMNS = {
    "pattern": ["conv_id", "e1_turn_idx", "e1_ts", "e2_turn_idx", "e2_ts"],
    "session": ["conv_id", "n_turns", "session_start", "session_end"],
    "tumbling": ["conv_id", "turns", "tool_calls", "window_start", "window_end"],
}


def check(pipe: Pipeline, arrival: str) -> tuple[list[str], dict]:
    """Compare the engine's outputs with DuckDB over the staged parquet, and
    the fused per-conversation counts with the composed outputs rolled up."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{arrival}/*.parquet')")
    bad, got = [], {}
    for name in ("pattern", "session", "tumbling"):
        got[name] = getattr(pipe, name)().toPandas()
        want = con.execute(REFERENCE_SQL[name]).fetchdf()
        if not core.frames_equal(got[name], want, COLUMNS[name]):
            bad.append(f"{name}: {len(got[name])} rows vs DuckDB {len(want)}")
    fused = pipe.fused().toPandas().set_index("conv_id").sort_index()
    turns = con.execute(
        "SELECT conv_id, count(*) AS n FROM src GROUP BY conv_id").fetchdf().set_index("conv_id")
    roll = pd.DataFrame({
        "n_turns": turns["n"],
        "n_matches": got["pattern"].groupby("conv_id").size(),
        "n_sessions": got["session"].groupby("conv_id").size(),
        "n_windows": got["tumbling"].groupby("conv_id").size(),
        "tool_calls": got["tumbling"].groupby("conv_id")["tool_calls"].sum(),
    }).fillna(0).astype("int64").sort_index()
    if not fused.index.equals(roll.index) or not (fused[roll.columns].astype("int64") == roll).all().all():
        bad.append("fused: per-conversation counts differ from the composed outputs")
    con.close()
    return bad, {k: len(v) for k, v in got.items()}


def run(ctx) -> dict:
    spark = ctx.start_spark()
    tr = ctx.tracer
    with ctx.phase("datamodel.stage_input_s"):
        data = gen_transcripts(ctx.seed, TURNS, TURNS_PER_CONV)
        arrival, bucketed = stage(data, os.path.join(ctx.work, "input"), ctx.cores)
    pipe = Pipeline(spark, arrival, bucketed)
    n = len(data)
    with ctx.phase("session.warmup_s"):
        # untimed repetitions: Python worker spawn, code generation, JIT
        for _ in range(WARM_REPS):
            for _, call in CALLS:
                _noop(getattr(pipe, call)())

    ctx.setup_done()
    reps: list[dict] = []
    attempted = 0
    errors: list[str] = []
    raised: set[tuple[int, str]] = set()
    t0_measure = time.perf_counter()
    with tr.span("measure"):
        # repetitions while the next one, as long as the last, still fits
        while len(reps) < MIN_REPS or (
            time.perf_counter() - t0_measure + sum(reps[-1].values()) <= ctx.seconds
        ):
            walls = {}
            for span, call in CALLS:
                attempted += 1
                t0 = time.perf_counter()
                try:
                    with tr.span(span, rep=len(reps)):
                        _noop(getattr(pipe, call)())
                except Exception as e:  # noqa: BLE001 - count, keep measuring
                    raised.add((len(reps), call))
                    errors.append(f"{call}: {type(e).__name__}: {e}")
                walls[call] = time.perf_counter() - t0
            reps.append(walls)

    with tr.span("check"):
        bad, rows = check(pipe, arrival)
    # a call fails when it raised, or when its kind's checked output is wrong
    kinds = {b.split(":")[0] for b in bad}
    failed = sum(1 for i in range(len(reps)) for _, c in CALLS if c in kinds or (i, c) in raised)
    med = {c: core.median([r[c] for r in reps]) for _, c in CALLS}
    # turns over the sum of the per-call medians: a burst of host contention
    # during one call of one repetition does not move it
    composed = n / (med["pattern"] + med["session"] + med["tumbling"])
    layer_named = {
        "cep.pattern_s": med["pattern"],
        "cep.fused_s": med["fused"],
        "operators.session_s": med["session"],
        "operators.tumbling_s": med["tumbling"],
        "cep.match_rows": rows["pattern"],
        "reps": len(reps),
    }
    counted = None
    if ctx.trace:
        by_call = _jobs_by_call(ctx)
        layer_named.update(_traced_layers(ctx, by_call, len(reps)))
        counted = ([j for jobs in by_call.values() for j in jobs], len(reps))
    return {
        "correct": not bad and not errors,
        "attempted": attempted,
        "failed": failed,
        "failures": bad + errors,
        "end_to_end": {
            "throughput_per_s": composed,
            "result_latency_ms": 1000.0 * med["fused"],
        },
        "named": {
            "turns_per_s": (composed, "turns/s"),
            "fused_turns_per_s": (n / med["fused"], "turns/s"),
            "turns": (n, "turns"),
            "reps": (len(reps), "reps"),
        },
        "layer_named": layer_named,
        "counted": counted,
        "reps": reps,
        "spark_conf": core.effective_conf(spark),
    }


def _jobs_by_call(ctx) -> dict[str, list[int]]:
    """Spark jobs of each timed call, over all repetitions."""
    by_call: dict[str, list[int]] = {}
    for s in ctx.tracer.spans:
        if "rep" in s:
            by_call.setdefault(s["name"], []).extend(ctx.counters.jobs_of_group(s["group"]))
    return by_call


def _traced_layers(ctx, by_call: dict, reps: int) -> dict:
    """Per-call Spark counters per timed repetition."""
    out = {}
    pat = ctx.counters.summary(by_call.get("cep.match_pattern_batch", []))
    out.update({
        "cep.pattern_stages": pat["stages"] / reps,
        "cep.pattern_shuffle_write_mb": pat["shuffle_write_mb"] / reps,
        "cep.pattern_py_sent_mb": pat["py_sent_mb"] / reps,
        "cep.pattern_py_returned_mb": pat["py_returned_mb"] / reps,
        "cep.pattern_gc_s": pat["gc_s"] / reps,
    })
    ops = ctx.counters.summary(by_call.get("operators.windows.session", [])
                               + by_call.get("operators.windows.tumbling", []))
    out.update({
        "operators.shuffle_write_mb": ops["shuffle_write_mb"] / reps,
        "operators.spill_mb": ops["spill_mb"] / reps,
        "operators.gc_s": ops["gc_s"] / reps,
    })
    return out
