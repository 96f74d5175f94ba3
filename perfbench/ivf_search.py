"""Workload ``ivf_search``: the paper's read path at 384 dimensions.

An ``IVFIndex`` with 16 shards is fitted, written and loaded over a seeded
Gaussian-mixture corpus (uneven clusters, so uneven shards), then serves one
query set in three closed-loop phases:

  A. one client: ``search(k=10, nprobe=2)`` then ``.collect()``;
  B. four clients doing the same;
  C. ``search_batch`` of the whole query set at nprobe=4.

A single query splits its time between per-job overhead and the
Catalyst-expression scoring kernel; phase C runs the Arrow/numpy batch
kernel instead; phase B shows contention in the driver and scheduler.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import checks, gen
from perfbench.harness import (
    Ctx,
    layout_stats,
    median,
    pct,
    shard_files,
    traced_layers,
)

SIZES = {
    "full": dict(
        corpus_seed=1, n=4000, dim=384, components=1000, spread=1.0, skew=0.5,
        n_queries=1000, self_match_every=5,
    ),
    "tiny": dict(
        corpus_seed=1, n=600, dim=32, components=40, spread=1.0, skew=0.5,
        n_queries=40, self_match_every=5,
    ),
}
SHARDS, K, NPROBE, BATCH_NPROBE, CLIENTS = 16, 10, 2, 4, 4
WARM_SEARCHES = 6
# share of --seconds given to phases A, B and C
SPLIT = (0.45, 0.45, 0.1)


def _search_op(ctx: Ctx, idx, qlist, truth, self_match, qi, req, lat, rec):
    p = ctx.probe
    with p.call("ivf.search", req, "build") as plan:
        sdf = idx.search(qlist[qi], k=K, nprobe=NPROBE)
    with p.call("topk.collect", req, "action") as act:
        rows = sdf.collect()
    err = checks.check_ranked(rows, K)
    if err is None and qi in self_match:
        err = checks.check_self_match(rows, self_match[qi])
    if ctx.op(err):
        lat.append((plan.dt + act.dt, plan, act))
        rec.append(checks.recall([r["vec_id"] for r in rows], truth[qi]))


def _batch_rows_error(rows, nq, truth, self_match, rec) -> str | None:
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(r)
    if len(by_q) != nq:
        return f"batch answered {len(by_q)} of {nq} queries"
    for qi, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        err = checks.check_ranked(rs, K)
        if err is None and qi in self_match:
            err = checks.check_self_match(rs, self_match[qi])
        if err:
            return f"query {qi}: {err}"
        rec.append(checks.recall([r["vec_id"] for r in rs], truth[qi]))
    return None


def run(ctx: Ctx, start_s: float):
    from distributed_vector_database_spark.operators.ivf import (
        IVFIndex,
        fit_centroids,
        nearest_shards,
    )

    sz = SIZES["tiny" if ctx.tiny else "full"]
    spark, p = ctx.spark, ctx.probe
    vi = gen.vector_inputs(
        ctx.seed,
        corpus_seed=sz["corpus_seed"],
        n=sz["n"],
        dim=sz["dim"],
        components=sz["components"],
        spread=sz["spread"],
        skew=sz["skew"],
        n_queries=sz["n_queries"],
        self_match_every=sz["self_match_every"],
    )
    n, nq = sz["n"], sz["n_queries"]
    ids = np.arange(n, dtype=np.int64)
    corpus_path = os.path.join(ctx.root, "corpus.parquet")
    pq.write_table(gen.vectors_table(ids, vi.corpus), corpus_path)
    qlist = [[float(x) for x in q] for q in vi.queries]
    truth = checks.exact_topk(vi.corpus, ids, vi.queries, K)
    S = ctx.seconds

    # ---- set-up: fit + write + load, once
    p.tracing = ctx.trace
    df = spark.read.parquet(corpus_path)
    path = os.path.join(ctx.root, "ivf")
    with p.call("ivf.fit_centroids", "setup", "build") as fit:
        cents = fit_centroids(df, SHARDS)
    with p.call("ivf.write", "setup", "build") as wr:
        IVFIndex(spark, cents, path=path).write(df)
    with p.call("ivf.load", "setup", "build") as ld:
        idx = IVFIndex.load(spark, path)
    p.tracing = False
    shard_rows = np.zeros(SHARDS, dtype=np.int64)
    for row in idx.df.groupBy("shard_id").count().collect():
        shard_rows[row[0]] = row[1]
    layout_bytes = layout_stats(idx.path)[1]
    files = shard_files(idx.path, SHARDS)

    # untimed warm-up searches: JIT and Python-worker start-up; the first
    # searches of a session run up to twice as slow, the next ones 10-20%
    for qi in range(1, WARM_SEARCHES + 1):
        ctx.guarded(
            _search_op, ctx, idx, qlist, truth, vi.self_match, qi, f"w{qi}", [], []
        )

    # ---- phase A: one client; in a traced run every other query is
    # untraced, so the tracing overhead is measured on interleaved pairs
    lat, rec, scanned, probed_files, route = [], [], [], [], []
    deadline = time.perf_counter() + SPLIT[0] * S
    i = 0
    while time.perf_counter() < deadline or i < 4:
        qi = i % nq
        p.tracing = ctx.trace and i % 2 == 0
        if p.tracing:
            with p.call("ivf.nearest_shards", f"a{i}") as rt:
                probed = nearest_shards(qlist[qi], idx.centroids, NPROBE)
            route.append(rt.dt)
        else:
            probed = nearest_shards(qlist[qi], idx.centroids, NPROBE)
        scanned.append(int(shard_rows[probed].sum()))
        probed_files.append(int(files[probed].sum()))
        ctx.guarded(
            _search_op, ctx, idx, qlist, truth, vi.self_match, qi, f"a{i}", lat, rec
        )
        i += 1
    p.tracing = False

    # ---- phase B: four clients, closed loop
    p.tracing = ctx.trace
    lat_b, rec_b = [], []
    nxt = itertools.count(i)
    lock = threading.Lock()
    deadline = time.perf_counter() + SPLIT[1] * S

    def client():
        # each client's first query starts together with the others' and
        # pays the ramp-up; it is checked but not timed
        out = []
        while time.perf_counter() < deadline:
            with lock:
                j = next(nxt)
            ctx.guarded(
                _search_op, ctx, idx, qlist, truth, vi.self_match, j % nq,
                f"b{j}", out, rec_b,
            )
            out = lat_b

    with ThreadPoolExecutor(CLIENTS) as pool:
        for f in [pool.submit(client) for _ in range(CLIENTS)]:
            f.result()

    # ---- phase C: batched search over the whole query set
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(nq), "query_vector": qlist}),
        "query_id long, query_vector array<double>",
    )
    batch, rec_c = [], []
    deadline = time.perf_counter() + SPLIT[2] * S
    b = 0
    while time.perf_counter() < deadline or b == 0:
        rb: list[float] = []

        def one_batch():
            with p.call("ivf.search_batch", f"c{b}", "build") as plan:
                bdf = idx.search_batch(qdf, k=K, nprobe=BATCH_NPROBE)
            with p.call("topk.batch_collect", f"c{b}", "action") as act:
                rows = bdf.collect()
            if ctx.op(_batch_rows_error(rows, nq, truth, vi.self_match, rb)):
                batch.append((plan.dt + act.dt, plan, act))
                rec_c[:] = rb

        ctx.guarded(one_batch)
        b += 1
    p.tracing = False
    if not lat or not lat_b or not batch:
        raise RuntimeError("no successful search or batch to measure")

    # closed loop without think time: throughput = clients / latency
    # (Little's law), taken at the median latency so that one stalled query
    # does not swing it, and without the error completions / wall time has
    # from the clients' last, partly finished queries
    qps_4c = CLIENTS / median([x[0] for x in lat_b])

    a_lat = [x[0] for x in lat]
    batch_qps = nq * len(batch) / sum(x[0] for x in batch)
    setup_s = start_s + fit.dt + wr.dt + ld.dt
    e2e = {
        "setup_s": setup_s,
        "latency_ms": pct(a_lat, 50) * 1e3,
        "throughput_per_s": qps_4c,
        "quality": float(np.mean(rec_c)),
    }

    put = ctx.put
    put("setup_s", setup_s, "s")
    put("search_p50_ms", e2e["latency_ms"], "ms")
    put("search_p90_ms", pct(a_lat, 90) * 1e3, "ms")
    put("search_samples", len(a_lat), "count")
    put("search_qps_4c", qps_4c, "1/s")
    put("batch_qps", batch_qps, "1/s")
    put("recall_at_10", float(np.mean(rec)), "ratio")
    put("batch_recall_at_10_nprobe4", e2e["quality"], "ratio")
    put("session.start_s", start_s, "s")
    put("ivf.fit_centroids_s", fit.dt, "s")
    put("ivf.write_s", wr.dt, "s")
    put("ivf.load_ms", ld.dt * 1e3, "ms")
    put("ivf.search_plan_ms", median([x[1].dt for x in lat]) * 1e3, "ms")
    put("topk.collect_ms", median([x[2].dt for x in lat]) * 1e3, "ms")
    put("ivf.rows_scanned_per_query", float(np.mean(scanned)), "count")
    put("ivf.scan_fraction", float(np.mean(scanned)) / n, "ratio")
    put("ivf.search_batch_plan_ms", median([x[1].dt for x in batch]) * 1e3, "ms")
    put("topk.batch_collect_s", median([x[2].dt for x in batch]), "s")

    layer = {
        "session.start_s": start_s,
        "setup.build_s": fit.dt + wr.dt,
        "ivf.rows_scanned_per_query": float(np.mean(scanned)),
        "ivf.scan_fraction": float(np.mean(scanned)) / n,
        "batch.qps": batch_qps,
        "sources.layout_bytes": float(layout_bytes),
        "sources.bytes_per_vector": layout_bytes / n,
        "sources.files_per_probe": float(np.mean(probed_files)),
    }
    if ctx.trace:
        setup_names = ("ivf.fit_centroids", "ivf.write", "ivf.load")
        traced, _ = traced_layers(
            p, [s for s in p.spans if s.name in setup_names], lat
        )
        layer.update(traced)
        c_batch = p.counters([s for x in batch for s in (x[1].span, x[2].span)])
        layer["batch.jobs"] = c_batch["jobs"] / len(batch)
        layer["batch.shuffle_bytes"] = c_batch["shuffle_write_bytes"] / len(batch)
        put("ivf.route_ms", median(route) * 1e3, "ms")
        put("spark.jobs_per_query", layer["op.jobs"], "count")
        put("spark.tasks_per_query", layer["op.tasks"], "count")
        put("spark.cpu_ms_per_query", layer["op.cpu_ms"], "ms")
        put("spark.run_ms_per_query", layer["op.run_ms"], "ms")
        batch_wait = (c_batch["run_ms"] - c_batch["cpu_ms"]) / len(batch)
        put("spark.batch_python_wait_ms", batch_wait, "ms")
        put("spark.batch_shuffle_bytes", layer["batch.shuffle_bytes"], "bytes")
        put("trace.overhead_pct", layer["trace.overhead_pct"], "%")
    return e2e, layer
