"""Run the benchmark's workloads and summarize them.

    python3 perfbench/suite.py                       # every workload, seed 1, untraced + traced
    python3 perfbench/suite.py --seeds 1-10 --no-trace cep_batch   # spread over ten seeds
    python3 perfbench/suite.py --cpus 1 --no-trace cep_batch       # single-threaded baseline

Each run is ``perfbench/run.py`` in a process of its own, one after another.
For every workload it prints each end-to-end metric's median, quartiles and
spread (interquartile range over median, the rule BENCHMARK.json's bounds
are checked with) and, when traced runs were made, the tracing overhead: the
untraced median throughput over the traced one, minus one. Raw result lines go to
``.bench_work/results/suite-<time>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def one(workload: str, seed: int, seconds: float, trace: int, cpus: int | None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    named = {ln.split()[1]: " ".join(ln.split()[2:]) for ln in lines if ln.startswith("metric ")}
    env = next((json.loads(ln[4:]) for ln in lines if ln.startswith("env ")), {})
    return {"workload": workload, "seed": seed, "trace": trace, "cpus": cpus, "rc": p.returncode,
            "wall_s": time.time() - t0, "result": res, "named": named,
            "steal": env.get("cpu_steal_share"),
            "stderr_tail": None if res else p.stderr[-2000:]}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    out_dir = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"suite-{time.strftime('%Y%m%dT%H%M%S')}.jsonl")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in args.workloads:
        runs = []
        for trace in (0,) if args.no_trace else (0, 1):
            for s in seeds(args.seeds):
                r = one(w, s, args.seconds, trace, args.cpus)
                runs.append(r)
                with open(log, "a") as f:
                    f.write(json.dumps(r) + "\n")
                res = r["result"]
                status = "FAILED TO RUN" if res is None else (
                    f"correct={res['correct']} failed={res['failed']}/{res['attempted']}")
                steal = "" if r["steal"] is None else f" steal={r['steal']:.3f}"
                print(f"{w} seed={s} trace={trace} wall={r['wall_s']:.1f}s{steal} {status}",
                      flush=True)
                if res is None:
                    print(r["stderr_tail"])
                ok &= res is not None and res["correct"]
        untraced = [r for r in runs if r["trace"] == 0 and r["result"]]
        if not untraced:
            continue
        print(f"== {w}: {len(untraced)} untraced runs, seeds {args.seeds}")
        for m, unit in ((k, v["unit"]) for k, v in untraced[0]["result"]["metrics"].items()):
            vals = [r["result"]["metrics"][m]["value"] for r in untraced]
            med, q1, q3, sp = spread(vals)
            flag = "" if m == "setup_s" or sp <= bounds.get(m, 1) / 3 else "  (spread > bound/3)"
            print(f"  {m:22s} median {med:12.4f} {unit:5s} q1 {q1:12.4f} q3 {q3:12.4f} "
                  f"spread {sp:.3f} bound {bounds.get(m)}{flag}")
        names = sorted({k for r in untraced for k in r["named"]})
        for k in names:
            vals = [r["named"][k] for r in untraced if k in r["named"]]
            print(f"  {k:22s} " + " | ".join(vals))
        traced = [r for r in runs if r["trace"] == 1 and r["result"]]
        if traced:
            u = statistics.median(r["result"]["metrics"]["throughput_per_s"]["value"] for r in untraced)
            t = statistics.median(r["result"]["metrics"]["trace.throughput_per_s"]["value"]
                                  for r in traced)
            print(f"  tracing overhead: untraced/traced throughput - 1 = {u / t - 1:+.3f} "
                  f"({len(untraced)} untraced, {len(traced)} traced runs)")
    print(f"raw results: {os.path.relpath(log, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
