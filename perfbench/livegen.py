"""Open-loop load generator for the ``stream_live`` workload.

A process of its own: on a fixed schedule (one tick every ``TICK_S``
seconds from the schedule's start) it creates ``RATE * TICK_S`` transcript
events over ``CONVS`` conversations,
stamps each with its creation time as its event time, writes them as one
parquet file and publishes the file into ``--out`` by atomic rename. It
never waits for the system under test. At exit it writes, as JSON to
``--log``, each tick's scheduled and published times.

The schedule's start (epoch seconds) and duration arrive as one JSON line on
stdin, so the process can be started, and keep its scheduling priority,
before the system under test is launched and niced:

    echo '{"start": 1760000000.5, "duration": 20}' | python3 -m perfbench.livegen \
        --out DIR --tmp DIR --log FILE --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RATE = 200.0  # events/s
TICK_S = 0.2
CONVS = 96

ROLES = np.array(["user", "assistant", "tool", "system"])
ROLE_P = [0.4, 0.3, 0.2, 0.1]

SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


class Events:
    """Seeded event content (conversation, role, tool); times are stamped by
    the caller. Turn numbers count per conversation."""

    def __init__(self, seed: int, convs: int):
        self.rng = np.random.default_rng(seed)
        self.convs = convs
        self.turns = np.zeros(convs, dtype=np.int64)

    def draw(self, n: int) -> dict:
        conv = self.rng.integers(0, self.convs, n)
        role = ROLES[self.rng.choice(4, n, p=ROLE_P)]
        tool = np.where(role == "tool",
                        np.where(self.rng.random(n) < 0.5, "search", "exec"), "")
        turn = np.empty(n, dtype=np.int32)
        for i, c in enumerate(conv):
            turn[i] = self.turns[c]
            self.turns[c] += 1
        return {
            "conv_id": [f"conv{c:04d}" for c in conv],
            "turn_idx": turn,
            "role": role.tolist(),
            "text": [f"{r} turn {t}" for r, t in zip(role, turn)],
            "tool": tool.tolist(),
        }


def write_file(cols: dict, ts_us, tmp_dir: str, out_dir: str, name: str) -> None:
    table = pa.table({**cols, "ts": pa.array(ts_us, pa.timestamp("us"))}, schema=SCHEMA)
    tmp = os.path.join(tmp_dir, name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(out_dir, name))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    for a in ("--out", "--tmp", "--log"):
        ap.add_argument(a, required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    events = Events(args.seed, CONVS)
    per_tick = max(1, round(RATE * TICK_S))
    # pay first-use costs (parquet writer, allocator) before the schedule
    warm = Events(args.seed + 1, CONVS)
    write_file(warm.draw(per_tick), [0] * per_tick, args.tmp, args.tmp, "warm.parquet")
    os.remove(os.path.join(args.tmp, "warm.parquet"))
    line = sys.stdin.readline()
    if not line.strip():
        return 0  # the run ended before the live phase
    plan = json.loads(line)

    n_ticks = int(round(plan["duration"] / TICK_S))
    ticks = []
    for k in range(n_ticks):
        due = plan["start"] + k * TICK_S
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        cols = events.draw(per_tick)
        # each event's event time is its own creation time
        ts_us = [time.time_ns() // 1000 for _ in range(per_tick)]
        write_file(cols, ts_us, args.tmp, args.out, f"live-{k:06d}.parquet")
        ticks.append({"tick": k, "due": due, "published": time.time(),
                      "first_us": ts_us[0], "last_us": ts_us[-1], "events": per_tick})
    with open(args.log, "w") as f:
        json.dump({"ticks": ticks, "turns": events.turns.tolist()}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
