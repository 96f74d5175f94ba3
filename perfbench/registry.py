"""Workload ``registry``: full results of registry keys (``queries.registry()``).

Each key (``queries.spark_queries()[key]``) is built and then materialised in
full with ``df.write.format("noop")`` — no driver collect, and no column
pruning of the kind ``count()`` allows. Build and action are timed apart: eager
pins and memo fills happen during the build. The first pass is cold and is
the workload's set-up; the later passes are warm and timed. The first warm
pass also compares every key, untimed, against its DuckDB oracle.

Keys: one or more per operator module behind the registry — quantize, dedup,
graph, ann, sketch, lm, streaming and merge-on-read storage — cut to what
fits one run (see README).
"""

from __future__ import annotations

import math
import os
import time

import numpy as np

from perfbench import checks, gen
from perfbench.harness import Ctx, median, pct, traced_layers

# key -> the operator modules it exercises
KEYS = (
    "quantize_int8_recon",  # functions.quantize (higher-order-function target)
    "dedup_keep_best",  # operators.dedup + operators.graph connected components
    "knn_graph_lsh_capped",  # operators.ann (pin site)
    "bloom_decontaminate_stats",  # operators.sketch (pin site)
    "trigram_kn_ppl",  # operators.lm
    "stream_dedup_counts",  # streaming
    "mor_upsert_read",  # sources.mor
)
SIZES = {
    "full": dict(sf=0.01, keys=KEYS, min_warm=3),
    "tiny": dict(sf=0.004, keys=KEYS, min_warm=2),
}


def run(ctx: Ctx, start_s: float):
    import duckdb

    from distributed_vector_database_spark import queries

    sz = SIZES["tiny" if ctx.tiny else "full"]
    spark, p = ctx.spark, ctx.probe
    data_dir = os.path.join(ctx.root, "data")
    tables = gen.registry_tables(ctx.seed, data_dir, sz["sf"])
    duck = duckdb.connect()
    for name, path in tables.items():
        duck.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    fns, oracle = queries.spark_queries(), queries.oracle_queries()
    perm = np.random.default_rng(ctx.seed).permutation(len(sz["keys"]))
    order = [sz["keys"][i] for i in perm]

    def execute(key: str, tag: str, check: bool):
        """Build + noop action; returns (build call, action call) or None."""
        def op():
            with p.call("queries.build", f"{tag}.{key}", "build") as b:
                df = fns[key](spark, data_dir)
            with p.call("queries.action", f"{tag}.{key}", "action") as a:
                df.write.format("noop").mode("overwrite").save()
            err = None
            if check:
                err = checks.check_oracle(df.toPandas(), duck.sql(oracle[key]).df())
                err = err and f"{key}: {err}"
            if not ctx.op(err):
                return None
            return b, a

        return ctx.guarded(op)

    # ---- cold pass: the set-up a user pays before the first answers
    p.tracing = ctx.trace
    cold = {k: execute(k, "cold", False) for k in order}
    p.tracing = False
    if any(v is None for v in cold.values()):
        raise RuntimeError("a registry key failed on the cold pass")

    # ---- warm passes; the first also checks every key against its oracle.
    # In a traced run every other pass is untraced (tracing overhead).
    warm: dict[str, list] = {k: [] for k in order}
    deadline = time.perf_counter() + ctx.seconds
    w = 0
    matched = 0
    while time.perf_counter() < deadline or w < sz["min_warm"]:
        p.tracing = ctx.trace and w % 2 == 0
        for k in order:
            res = execute(k, f"warm{w}", w == 0)
            if res is not None:
                warm[k].append(res)
                matched += w == 0
        p.tracing = False
        w += 1
    if any(not v for v in warm.values()):
        raise RuntimeError("a registry key failed on every warm pass")

    per_key = {k: median([b.dt + a.dt for b, a in warm[k]]) for k in order}
    registry_s = sum(per_key.values())
    geomean_ms = math.exp(np.mean([math.log(v * 1e3) for v in per_key.values()]))
    cold_build = sum(b.dt for b, _ in cold.values())
    cold_s = cold_build + sum(a.dt for _, a in cold.values())
    setup_s = start_s + cold_s
    vals = list(per_key.values())
    e2e = {
        "setup_s": setup_s,
        "latency_ms": geomean_ms,
        "throughput_per_s": len(order) / registry_s,
        "quality": matched / len(order),
    }
    warm_build = sum(b.dt for k in order for b, _ in warm[k])
    warm_total = sum(b.dt + a.dt for k in order for b, a in warm[k])
    put = ctx.put
    put("setup_s", setup_s, "s")
    put("registry_s", registry_s, "s")
    put("registry_geomean_ms", geomean_ms, "ms")
    put("registry_key_p90_ms", pct(vals, 90) * 1e3, "ms")
    put("registry_warm_passes", w, "count")
    put("registry_oracle_match", matched / len(order), "ratio")
    put("session.start_s", start_s, "s")
    put("registry.cold_pass_s", cold_s, "s")
    put("registry.build_share", warm_build / warm_total, "ratio")
    for k in order:
        put(f"registry.{k}.build_ms", median([b.dt for b, _ in warm[k]]) * 1e3, "ms")
        put(f"registry.{k}.action_ms", median([a.dt for _, a in warm[k]]) * 1e3, "ms")

    layer = {
        "session.start_s": start_s,
        "setup.build_s": cold_build,
        "registry.build_share": warm_build / warm_total,
    }
    if ctx.trace:
        cold_spans = [x.span for b, a in cold.values() for x in (b, a)]
        ops = [(b.dt + a.dt, b, a) for k in order for b, a in warm[k]]
        traced, c_op = traced_layers(p, cold_spans, ops)
        layer.update(traced)
        for k in order:
            runs = [x for x in warm[k] if x[0].span is not None]
            c = p.counters([s for x in runs for s in (x[0].span, x[1].span)])
            layer[f"registry.{k}.jobs"] = c["jobs"] / len(runs)
            put(f"registry.{k}.jobs", layer[f"registry.{k}.jobs"], "count")
        put("spark.registry_shuffle_bytes", c_op["shuffle_write_bytes"], "bytes")
        put("spark.registry_spill_bytes", c_op["spill_bytes"], "bytes")
        put("spark.registry_gc_ms", c_op["gc_ms"], "ms")
        wait_s = (c_op["run_ms"] - c_op["cpu_ms"]) / 1e3
        put("spark.registry_run_minus_cpu_s", wait_s, "s")
        put("trace.overhead_pct", layer["trace.overhead_pct"], "%")
    return e2e, layer
