"""Workload ``upsert``: writes beside reads on one IVF-PQ layout.

An ``IVFPQIndex`` (16 shards, m=8) is built over a fixed 64-d mixture
corpus. The load is a seeded stream of upsert batches — ``delete_ids`` +
``append_batch`` moving existing ids to new vectors — in cycles: each cycle
is two batches, each followed by two single-query
``search(k=10, nprobe=2, rerank=50)`` calls, and then one ``compact()``.
An untimed warm-up cycle, with extra searches before it, takes the
first-call costs of the read, write and compaction paths. Every write grows
the delete sidecar and the small-file count, so a change that shifts cost
between writes, reads and compaction shows here.

After each batch the two searches check read-after-write: the new version
of a moved id is top-1 at score 1.0, and its old version is gone.
After the last compaction the live rows must be exactly the expected
corpus, and a batched search of a fixed evaluation set measures the index's
recall.
"""

from __future__ import annotations

import os

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
        corpus_seed=1, n=6000, dim=64, components=100, spread=1.0, skew=0.5,
        n_queries=200, n_eval=500, batch=600,
    ),
    "tiny": dict(
        corpus_seed=1, n=800, dim=16, components=20, spread=1.0, skew=0.5,
        n_queries=20, n_eval=20, batch=50,
    ),
}
SHARDS, M, K, NPROBE, RERANK = 16, 8, 10, 2, 50
# upsert batches per cycle. compact() rewrites a shard only when it holds
# more than two files; two batches on top of a compacted shard make three,
# so every compaction does the same work (with one batch per cycle, every
# other compaction would find nothing to do).
CYCLE_BATCHES = 2
# timed cycles per second of --seconds (3 at 12 s). A fixed count, not a
# deadline, keeps the sidecar growth and the mix of searches the same on a
# slow host and a fast one.
CYCLE_RATE = 0.25
# untimed searches before the warm-up cycle: the first searches of a session
# run up to twice as slow while the JVM and the Python workers warm up
WARM_SEARCHES = 2


def _frame(spark, ids: np.ndarray, vecs: np.ndarray):
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": ids.astype(np.int64), "embedding": list(vecs)}),
        "vec_id long, embedding array<float>",
    )


def run(ctx: Ctx, start_s: float):
    from distributed_vector_database_spark.operators.ivf import nearest_shards
    from distributed_vector_database_spark.operators.ivfpq import IVFPQIndex

    sz = SIZES["tiny" if ctx.tiny else "full"]
    spark, p = ctx.spark, ctx.probe
    n = sz["n"]
    vi = gen.vector_inputs(
        ctx.seed,
        corpus_seed=sz["corpus_seed"],
        n=n,
        dim=sz["dim"],
        components=sz["components"],
        spread=sz["spread"],
        skew=sz["skew"],
        n_queries=sz["n_queries"],
        self_match_every=sz["n_queries"],
    )
    ids_all = np.arange(n, dtype=np.int64)
    corpus_path = os.path.join(ctx.root, "corpus.parquet")
    pq.write_table(gen.vectors_table(ids_all, vi.corpus), corpus_path)
    current = vi.corpus.copy()
    stream = gen.upsert_batches(ctx.seed, vi.mixture, n, sz["batch"])

    # ---- set-up: build + load, once (a build costs 5-8 s)
    p.tracing = ctx.trace
    df = spark.read.parquet(corpus_path)
    path = os.path.join(ctx.root, "ivfpq")
    with p.call("ivfpq.build", "setup", "build") as bd:
        IVFPQIndex.build(df, SHARDS, m=M, path=path)
    with p.call("ivfpq.load", "setup", "build") as ld:
        idx = IVFPQIndex.load(spark, path)
    p.tracing = False
    cents = np.asarray(idx.centroids)

    def shard_rows() -> np.ndarray:
        d = ((current[:, None, :].astype(np.float64) - cents[None]) ** 2).sum(-1)
        return np.bincount(d.argmin(1), minlength=SHARDS)

    searches, rec, upserts, scanned, probe_files = [], [], [], [], []
    n_search = 0

    def search(q: np.ndarray, req: str, check):
        nonlocal n_search
        ql = [float(x) for x in q]
        p.tracing = ctx.trace and n_search % 2 == 0
        n_search += 1
        probed = nearest_shards(ql, idx.centroids, NPROBE)
        scanned.append(int(shard_rows()[probed].sum()))
        probe_files.append(int(shard_files(idx.path, SHARDS)[probed].sum()))

        def op():
            with p.call("ivfpq.search", req, "build") as plan:
                sdf = idx.search(ql, k=K, nprobe=NPROBE, rerank=RERANK)
            with p.call("ivfpq.search_collect", req, "action") as act:
                rows = sdf.collect()
            err = checks.check_ranked(rows, K) or check(rows)
            if ctx.op(err):
                searches.append((plan.dt + act.dt, plan, act))
                truth = checks.exact_topk(current, ids_all, q, K)[0]
                rec.append(checks.recall([r["vec_id"] for r in rows], truth))

        ctx.guarded(op)
        p.tracing = False

    def upsert_round(b: int):
        """One upsert batch, then two searches checking read-after-write."""
        ids, newv = next(stream)
        old = current[ids[0]].copy()
        bdf = _frame(spark, ids, newv)
        p.tracing = ctx.trace

        def upsert():
            with p.call("ivfpq.delete_ids", f"u{b}", "ingest") as d:
                idx.delete_ids([int(i) for i in ids])
            with p.call("ivfpq.append_batch", f"u{b}", "ingest") as a:
                idx.append_batch(bdf)
            upserts.append((d.dt + a.dt, d, a))
            ctx.op(None)

        ctx.guarded(upsert)
        p.tracing = False
        current[ids] = newv
        moved = int(ids[0])
        search(
            newv[0], f"s{b}.new",
            lambda rows: checks.check_self_match(rows, moved),
        )
        search(
            old, f"s{b}.old",
            lambda rows: checks.check_old_version_gone(rows, moved),
        )

    compactions, layouts = [], []

    def cycle(c: int):
        """One cycle: CYCLE_BATCHES upsert rounds, then one compact()."""
        for j in range(CYCLE_BATCHES):
            upsert_round(c * CYCLE_BATCHES + j)
        files_before, _ = layout_stats(idx.path)
        p.tracing = ctx.trace
        with p.call("ivfpq.compact", f"c{c}", "ingest") as comp:
            ctx.guarded(idx.compact)
        p.tracing = False
        compactions.append(comp)
        layouts.append((files_before, *layout_stats(idx.path)))

    # warm-up, checked but not timed: searches, then one whole cycle, so the
    # first-call costs of the read, write and compaction paths (Python
    # workers, JIT) fall outside the measurement
    for w in range(WARM_SEARCHES):
        search(vi.queries[-1 - w], f"w{w}", lambda rows: None)
    cycle(0)
    for xs in (searches, rec, upserts, scanned, probe_files, compactions, layouts):
        xs.clear()

    # ---- closed loop: a fixed number of cycles sized from --seconds, so the
    # write volume (and with it upsert_vps and the final recall) is the same
    # from run to run; then the untimed check of the whole live corpus
    for c in range(1, max(1, round(CYCLE_RATE * ctx.seconds)) + 1):
        cycle(c)
    files_before, files_after, layout_bytes = layouts[-1]
    rows = (
        spark.read.parquet(idx.path).select("vec_id", "_gen", "embedding").toPandas()
    )
    dels = idx.deleted_ids()
    dels = (
        dels.toPandas()
        if dels is not None
        else pd.DataFrame({"vec_id": [], "_dgen": []})
    )
    ctx.op(
        checks.check_live_corpus(
            rows["vec_id"], rows["_gen"], rows["embedding"],
            dels["vec_id"], dels["_dgen"], current,
        )
    )
    # index quality over the final live corpus: one untimed batched ADC
    # search of a fixed evaluation set, scored as recall 10@50 — the share of
    # the exact top-10 among the 50 ADC candidates, which bounds what the
    # served search's exact re-rank of 50 candidates can find
    evalq = vi.mixture.sample(
        np.random.default_rng([sz["corpus_seed"], 2]), sz["n_eval"]
    )
    truth = checks.exact_topk(current, ids_all, evalq, K)
    brows = idx.search_batch(
        [(i, [float(x) for x in q]) for i, q in enumerate(evalq)],
        k=RERANK,
        nprobe=NPROBE,
    ).collect()
    by_q: dict[int, list] = {}
    for r in brows:
        by_q.setdefault(int(r["query_id"]), []).append(int(r["vec_id"]))
    short = [qi for qi in range(len(evalq)) if len(by_q.get(qi, ())) < K]
    ctx.op(f"batch search: {len(short)} queries without {K} rows" if short else None)
    batch_recall = float(
        np.mean([checks.recall(by_q.get(qi, []), t) for qi, t in enumerate(truth)])
    )
    if not searches or not upserts:
        raise RuntimeError("no successful search or upsert to measure")

    lat = [x[0] for x in searches]
    # write wall time of one cycle: its batches at the median batch time plus
    # the median compaction, so one stalled call does not swing it
    compact_s = median([x.dt for x in compactions])
    write_s = CYCLE_BATCHES * median([x[0] for x in upserts]) + compact_s
    upsert_vps = CYCLE_BATCHES * sz["batch"] / write_s
    setup_s = start_s + bd.dt + ld.dt
    e2e = {
        "setup_s": setup_s,
        "latency_ms": pct(lat, 50) * 1e3,
        "throughput_per_s": upsert_vps,
        "quality": batch_recall,
    }
    put = ctx.put
    put("setup_s", setup_s, "s")
    put("upsert_vps", upsert_vps, "1/s")
    put("upsert_search_p50_ms", e2e["latency_ms"], "ms")
    put("upsert_search_p90_ms", pct(lat, 90) * 1e3, "ms")
    put("upsert_search_samples", len(lat), "count")
    put("upsert_recall_at_10", float(np.mean(rec)), "ratio")
    put("batch_adc_recall_10_at_50", batch_recall, "ratio")
    put("bytes_per_vector", layout_bytes / n, "bytes")
    put("upsert_batches", len(upserts), "count")
    put("upsert_compactions", len(compactions), "count")
    put("session.start_s", start_s, "s")
    put("ivfpq.build_s", bd.dt, "s")
    put("ivfpq.delete_ids_ms", median([x[1].dt for x in upserts]) * 1e3, "ms")
    put("ivfpq.append_batch_ms", median([x[2].dt for x in upserts]) * 1e3, "ms")
    put("ivfpq.search_plan_ms", median([x[1].dt for x in searches]) * 1e3, "ms")
    put("ivfpq.search_collect_ms", median([x[2].dt for x in searches]) * 1e3, "ms")
    put("ivfpq.compact_s", compact_s, "s")
    put("ivfpq.delete_entries", len(dels), "count")
    put("sources.files_per_probe", float(np.mean(probe_files)), "count")
    put("sources.files_before_compact", files_before, "count")
    put("sources.files_after_compact", files_after, "count")
    put("sources.layout_bytes", layout_bytes, "bytes")

    layer = {
        "session.start_s": start_s,
        "setup.build_s": bd.dt,
        "ivf.rows_scanned_per_query": float(np.mean(scanned)),
        "ivf.scan_fraction": float(np.mean(scanned)) / n,
        "ivfpq.delete_entries": len(dels),
        "sources.files_per_probe": float(np.mean(probe_files)),
        "sources.files_before_compact": files_before,
        "sources.files_after_compact": files_after,
        "sources.layout_bytes": layout_bytes,
        "sources.bytes_per_vector": layout_bytes / n,
    }
    if ctx.trace:
        setup_names = ("ivfpq.build", "ivfpq.load")
        traced, _ = traced_layers(
            p, [s for s in p.spans if s.name in setup_names], searches
        )
        layer.update(traced)
        c_up = p.counters([s for x in upserts for s in (x[1].span, x[2].span)])
        layer["upsert.jobs_per_batch"] = c_up["jobs"] / len(upserts)
        layer["upsert.shuffle_bytes_per_batch"] = (
            c_up["shuffle_write_bytes"] / len(upserts)
        )
        put("spark.jobs_per_upsert", layer["upsert.jobs_per_batch"], "count")
        shuffle = layer["upsert.shuffle_bytes_per_batch"]
        put("spark.shuffle_bytes_per_upsert", shuffle, "bytes")
        put("spark.jobs_per_search", layer["op.jobs"], "count")
        put("trace.overhead_pct", layer["trace.overhead_pct"], "%")
    return e2e, layer
