"""Workload ``registry``: the 38 registry keys of ``bench.py``'s ``HEADLINE``
list (the other 3 of its 41 timed keys are its CEP sections), in the same
fixed order, in one warm session.

Not listed in BENCHMARK.json: one pass takes about 49 s warm at sf0.01 on a
4-core host, and with set-up and the oracle checks a run lasts about 4.5
minutes, more than the gated workloads' time budget allows. Run it by hand:

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 1

Tables are generated in the checkout from the seed by
``tools/gen_testdata.py`` at scale ``SF``. Each query
is timed by a full materialization, ``write.format("noop")``, not by
``.count()``: a count lets Catalyst prune columns nobody reads, so part of
the work is never done. Per-key walls are therefore not comparable with
``bench.py``'s. Every query is then value-hashed against its DuckDB
``oracle_sql()``, the convention of ``tools/simulate_driver.py``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys
import time

from perfbench import core

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

SF = 0.01
#: an unlisted workload, so not held to the gated runs' 180 s
HARD_LIMIT_S = 900.0

FAMILIES = ("pattern", "dedup", "similarity", "text", "multimodal", "tpch", "events")


def family(key: str) -> str:
    if key.startswith("curation_"):
        return "text"
    head = key.split("_", 1)[0]
    return head if head in FAMILIES else "operators"


def _load(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run(ctx) -> dict:
    import duckdb

    from eventflux_engine_spark.plans import QUERIES, oracle_sql_map

    headline = _load(os.path.join(ctx.root, "bench.py"), "_bench_headline").HEADLINE
    spark = ctx.start_spark()
    tr = ctx.tracer
    sf_dir = os.path.join(ctx.work, f"sf{SF}")
    with ctx.phase("datamodel.stage_input_s"):
        gen = _load(os.path.join(ctx.root, "tools", "gen_testdata.py"), "_gen_testdata")
        with contextlib.redirect_stdout(sys.stderr):
            gen.gen(SF, sf_dir, seed=ctx.seed)
    with ctx.phase("session.warmup_s"):
        QUERIES[headline[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    ctx.setup_done()
    walls, errors = {}, []
    with tr.span("measure"):
        for key in headline:
            t0 = time.perf_counter()
            try:
                with tr.span(f"plans.{key}", family=family(key)):
                    QUERIES[key].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - count, keep measuring
                errors.append(f"{key}: {type(e).__name__}: {e}")
            walls[key] = time.perf_counter() - t0
            core.log(f"registry: {key} {walls[key]:.2f} s")

    failures = list(errors)
    with tr.span("check"):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        oracles = oracle_sql_map()
        for key in headline:
            if key not in oracles or any(e.startswith(key + ":") for e in errors):
                continue
            got = QUERIES[key].fn(spark, sf_dir).toPandas()
            want = con.execute(oracles[key]).fetchdf()
            if (sorted(got.columns) != sorted(want.columns) or len(got) != len(want)
                    or core.value_hash(got) != core.value_hash(want)):
                failures.append(f"{key}: value hash differs from the DuckDB oracle "
                                f"({len(got)} vs {len(want)} rows)")
        con.close()
    failed = len({f.split(":")[0] for f in failures})
    suite_s = sum(walls.values())
    layer_named = {f"plans.{k}_s": v for k, v in walls.items()}
    counted = None
    if ctx.trace:
        by_family: dict[str, list[int]] = {}
        for s in tr.spans:
            if "family" in s:
                by_family.setdefault(s["family"], []).extend(ctx.counters.jobs_of_group(s["group"]))
        for f, jobs in by_family.items():
            c = ctx.counters.summary(jobs)
            layer_named[f"plans.{f}.jobs"] = c["jobs"]
            layer_named[f"plans.{f}.gc_s"] = c["gc_s"]
            layer_named[f"plans.{f}.shuffle_write_mb"] = c["shuffle_write_mb"]
        # one unit of work: the single pass over the keys
        counted = ([j for jobs in by_family.values() for j in jobs], 1)
    return {
        "correct": not failures,
        "attempted": len(headline),
        "failed": failed,
        "failures": failures,
        "end_to_end": {
            "throughput_per_s": len(headline) / suite_s,
            "result_latency_ms": 1000.0 * core.median(list(walls.values())),
        },
        "named": {
            "suite_s": (suite_s, "s"),
            "queries": (len(headline), "queries"),
            "sf": (SF, "scale factor"),
        },
        "layer_named": layer_named,
        "counted": counted,
        "spark_conf": core.effective_conf(spark),
    }
