"""Top-k similarity search operators.

Reference semantics (`reference: src/compute_server.py:107-138`): for a query
vector, score every candidate with cosine similarity, sort descending, take
top_k. The reference does this with one HTTP GET *per candidate row* (the N+1
pattern that makes its shards=1 latency 26.7 s, BASELINE.md); here it is one
declarative Spark job:

    scan (parquet, column-pruned to id+vector) -> score -> TakeOrderedAndProject

Tie-break: the reference relies on Python's stable sort (arbitrary). This
engine ALWAYS orders by (score DESC, id ASC) so results are deterministic and
oracle-comparable (SURVEY.md §2.6).

Scale notes (100 TB):
  - Single query: Spark plans orderBy().limit(k) as per-partition TakeOrdered
    + driver merge of num_partitions*k rows — already the "local top-k then
    global merge" physical plan of the reference's pymilvus variant
    (`reference: report p.3`, SURVEY.md §2.11). No full sort, no big shuffle.
  - Query batches: a window rank over (query_id) would shuffle the full
    corpus×queries cross product by query_id (each query's candidates = whole
    corpus -> catastrophic skew). ``batch_topk`` instead reduces per input
    partition first (Arrow-batched numpy top-k, narrow), then merges the
    surviving num_partitions*k rows per query — shuffle input shrinks from
    |corpus|×|Q| to num_partitions×k×|Q|.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_vector_database_spark.functions.vector import (
    cosine_similarity,
    euclidean_distance,
    dot,
    round_score,
)

__all__ = ["topk", "batch_topk", "radius_search", "score_column"]

_METRICS = ("cosine", "euclidean", "dot")


def score_column(metric: str, vec_col, query_col):
    """Similarity/distance score between two array columns.

    ``cosine`` and ``dot`` are similarities (higher = better);
    ``euclidean`` is a distance (lower = better). ``query_col`` may be a
    constant query vector (a sequence of floats): it then enters the plan
    as one ``vector_literal`` and cosine takes its norm on the driver.
    """
    if metric == "cosine":
        return cosine_similarity(vec_col, query_col)
    if metric == "euclidean":
        return euclidean_distance(vec_col, query_col)
    if metric == "dot":
        return dot(vec_col, query_col)
    raise ValueError(f"metric must be one of {_METRICS}, got {metric!r}")


def _order(metric: str, score, id_col):
    desc = metric != "euclidean"
    return [F.desc(score) if desc else F.asc(score), F.asc(id_col)]


def topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 5,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
    score_digits: int | None = 6,
    method: str = "auto",
) -> DataFrame:
    """Exact top-k nearest rows to one query vector.

    Returns (id_col, score) ordered by (score best-first, id ASC).

    ``method='auto'`` (default): pick by dimensionality — the expression
    path through 1024 dims, the Arrow kernel above, where the m·k
    expression tree itself becomes the bottleneck. Round-15 remeasure
    (10k rows in one parquet file, local[4] on 4 cores, 3 queries × 3
    trials, median and range): 384-d expr 0.88 s (0.68-0.96) vs arrow
    0.77 s (0.74-0.94); 768-d expr 1.43 s (1.35-1.90) vs arrow 0.86 s
    (0.74-1.06). Before the query became one folded literal with a
    driver-side norm (``vector_literal``), expr took 1.61 s and 3.12 s.
    A single-query ``mapInPandas`` kernel was measured as the default
    and rejected: 2.2-2.8x faster on the IVF serving benchmark (~3k
    probed rows at 384-d) but 15-25% slower on the <=50-row exact
    re-rank of ``IVFPQIndex.search``, where the Python-worker round trip
    dominates; choosing by candidate count would need a second scoring
    path. (Batched multi-query search always uses the Arrow kernel —
    ``batch_topk`` — where one GEMM serves all queries.)
    ``method='expr'``: column-pruned scan -> Catalyst expression score ->
    TakeOrderedAndProject (per-partition heap + driver merge). Zero Python;
    right up to ~10^2 dims where expression evaluation of the dot product
    (interpreted inside the higher-order lambda) starts to dominate.
    ``method='arrow'``: route through the batch kernel (numpy BLAS dot in
    mapInPandas, per-partition top-k, then merge) — faster for high-dim
    vectors or wide scans, same results by construction.
    """
    if method == "auto":
        method = "arrow" if len(query_vector) > 1024 else "expr"
    if method == "arrow":
        spark = df.sparkSession
        qdf = spark.createDataFrame(
            [(0, [float(x) for x in query_vector])],
            "query_id long, query_vector array<double>",
        )
        out = batch_topk(
            df,
            qdf,
            k,
            vector_col=vector_col,
            id_col=id_col,
            metric=metric,
            score_digits=score_digits,
        )
        return out.select(id_col, "score").orderBy(
            *_order(metric, F.col("score"), F.col(id_col))
        )
    if method != "expr":
        raise ValueError(f"method must be 'expr' or 'arrow', got {method!r}")
    score = score_column(metric, F.col(vector_col), query_vector)
    if score_digits is not None:
        score = round_score(score, score_digits)
    scored = df.select(F.col(id_col), score.alias("score"))
    return scored.orderBy(*_order(metric, F.col("score"), F.col(id_col))).limit(k)


def radius_search(
    df: DataFrame,
    query_vector: Sequence[float],
    threshold: float,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
    score_digits: int | None = 6,
) -> DataFrame:
    """Range (radius) similarity search: every row whose score against the
    query passes ``threshold`` — ``>=`` for similarity metrics (cosine,
    dot), ``<=`` for euclidean distance. The set-valued companion to
    ``topk`` (Faiss calls it range_search); the reference only exposes
    top-k, but "all near-duplicates of this document" is a radius query.

    Unlike top-k there is no global merge AT ALL: the plan is a pruned
    scan + filter, embarrassingly parallel at any scale, and composes with
    IVF probing the same way ``topk`` does (filter shard_id first).
    """
    score = score_column(metric, F.col(vector_col), query_vector)
    if score_digits is not None:
        score = round_score(score, score_digits)
    scored = df.select(F.col(id_col), score.alias("score"))
    keep = (
        F.col("score") <= F.lit(float(threshold))
        if metric == "euclidean"
        else F.col("score") >= F.lit(float(threshold))
    )
    return scored.filter(keep)


def batch_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    metric: str = "cosine",
    score_digits: int | None = 6,
    use_arrow: bool = True,
    allowed_shards: dict | None = None,
    shard_col: str = "shard_id",
) -> DataFrame:
    """Exact top-k for a batch of queries in ONE job.

    The query set is broadcast (it is small by construction); the corpus is
    never shuffled at full width. Two-phase plan:

      1. per-partition: score all (row × query) pairs with Arrow-batched
         numpy matmul, keep the k best per query per partition (narrow);
      2. global: window rank over the num_partitions*k survivors per query.

    Returns (query_id, id_col, score, rank), rank 1..k per query.

    ``allowed_shards`` (query_id -> iterable of shard ids) restricts each
    query's candidates to rows whose ``shard_col`` is in its set — the
    per-query probe mask of batched IVF search (IVFIndex.search_batch). The
    mask is applied INSIDE the partition kernel, so the window merge still
    only sees the <= num_partitions*k survivors per query, never the
    |pruned|×|Q| cross product.

    Amortizing many queries per job is also how this engine beats the
    reference's small-shard latency floor (BASELINE.md "Reading the numbers").
    """
    if use_arrow:
        reduced = _partition_topk_arrow(
            df,
            queries,
            k,
            vector_col,
            id_col,
            query_id_col,
            query_vec_col,
            metric,
            allowed_shards=allowed_shards,
            shard_col=shard_col,
        )
        score = F.col("score")
        if score_digits is not None:
            score = round_score(score, score_digits)
        reduced = reduced.withColumn("score", score)
    else:
        joined = df.crossJoin(F.broadcast(queries))
        if allowed_shards is not None:
            probe = F.broadcast(
                df.sparkSession.createDataFrame(
                    [(qid, [int(s) for s in ss])
                     for qid, ss in allowed_shards.items()],
                    f"{query_id_col} long, _probe array<int>",
                )
            )
            joined = joined.join(probe, query_id_col).filter(
                F.array_contains(F.col("_probe"), F.col(shard_col))
            )
        score = score_column(metric, F.col(vector_col), F.col(query_vec_col))
        if score_digits is not None:
            score = round_score(score, score_digits)
        reduced = joined.select(
            F.col(query_id_col), F.col(id_col), score.alias("score")
        )

    w = Window.partitionBy(query_id_col).orderBy(
        *_order(metric, F.col("score"), F.col(id_col))
    )
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def _partition_topk_arrow(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    vector_col: str,
    id_col: str,
    query_id_col: str,
    query_vec_col: str,
    metric: str,
    allowed_shards: dict | None = None,
    shard_col: str = "shard_id",
) -> DataFrame:
    """Per-partition top-k via mapInPandas + numpy (Arrow batches).

    The full query matrix is captured in the closure (broadcast by Spark's
    task serializer — fine for <=O(10^4) queries); each input partition emits
    at most |Q|*k candidate rows. With ``allowed_shards``, each query only
    sees rows whose shard is in its probe set (batched IVF semantics).

    A query batch past ``MAX_QUERY_BATCH`` (default 100k, env
    ``SPARK_GRAFT_MAX_QUERY_BATCH``) raises instead of silently OOMing the
    driver: batches that large belong in chunked calls or a distributed
    similarity join (`dedup.embedding_neardup_pairs` topology), not a
    closure broadcast.
    """
    import numpy as np

    cap = int(os.environ.get("SPARK_GRAFT_MAX_QUERY_BATCH", "100000"))
    # Plain collect, then check: a limit() here would turn the common
    # LocalRelation query frame's free driver-side collect into a real
    # Spark job (measured +0.35 s per single-query search). The guarded
    # hazard is the per-TASK closure broadcast of the |Q| x d matrix, and
    # that is exactly what the post-collect length check prevents.
    rows = queries.select(query_id_col, query_vec_col).collect()
    if len(rows) > cap:
        raise ValueError(
            f"batch_topk: query batch exceeds the closure-broadcast cap of "
            f"{cap}. Chunk the query frame across several calls, or use the "
            "blocked-GEMM similarity-join topology "
            "(operators/dedup.embedding_neardup_pairs) for query sets this "
            "large. Raise SPARK_GRAFT_MAX_QUERY_BATCH only if the driver "
            "has memory for |Q| x d float64 in every task."
        )
    q_ids = np.array([r[0] for r in rows])
    q_mat = np.array([r[1] for r in rows], dtype=np.float64)  # |Q| x d
    q_allowed = None
    if allowed_shards is not None:
        q_allowed = [
            np.asarray(sorted(allowed_shards.get(int(qid), ())), dtype=np.int64)
            for qid in q_ids
        ]

    schema = f"{query_id_col} long, {id_col} long, score double"
    larger_better = metric != "euclidean"
    in_cols = [id_col, vector_col] + (
        [shard_col] if allowed_shards is not None else []
    )

    def part_topk(batches: Iterator) -> Iterator:
        import pandas as pd

        frames = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            shards = (
                pdf[shard_col].to_numpy().astype(np.int64)
                if q_allowed is not None
                else None
            )
            mat = np.stack(pdf[vector_col].to_numpy()).astype(np.float64)  # n x d
            if metric == "cosine":
                qn = np.linalg.norm(q_mat, axis=1)
                mn = np.linalg.norm(mat, axis=1)
                denom = np.outer(mn, qn)
                scores = mat @ q_mat.T
                with np.errstate(divide="ignore", invalid="ignore"):
                    scores = np.where(denom == 0.0, 0.0, scores / denom)
            elif metric == "dot":
                scores = mat @ q_mat.T
            else:  # euclidean
                scores = np.sqrt(
                    np.maximum(
                        (mat * mat).sum(1)[:, None]
                        + (q_mat * q_mat).sum(1)[None, :]
                        - 2.0 * (mat @ q_mat.T),
                        0.0,
                    )
                )
            # selection key uses the ROUNDED score so boundary decisions agree
            # with the final (rounded) global ordering; ties broken by id ASC
            key = np.round(scores, 6)
            if larger_better:
                key = -key
            sel_qid, sel_id, sel_score = [], [], []
            for j in range(len(q_ids)):
                if q_allowed is not None:
                    cand = np.isin(shards, q_allowed[j]).nonzero()[0]
                    if len(cand) == 0:
                        continue
                else:
                    cand = None
                jids = ids if cand is None else ids[cand]
                jkey = key[:, j] if cand is None else key[cand, j]
                kk = min(k, len(jids))
                order = np.lexsort((jids, jkey))[:kk]
                if cand is not None:
                    order = cand[order]
                sel_qid.append(np.full(kk, q_ids[j]))
                sel_id.append(ids[order])
                sel_score.append(scores[order, j])
            if not sel_qid:
                continue
            frames.append(
                pd.DataFrame(
                    {
                        query_id_col: np.concatenate(sel_qid),
                        id_col: np.concatenate(sel_id),
                        "score": np.concatenate(sel_score),
                    }
                )
            )
        if frames:
            allf = pd.concat(frames, ignore_index=True)
            # reduce across batches of this partition: keep k best per query
            allf["_key"] = np.round(allf["score"].to_numpy(), 6)
            allf = (
                allf.sort_values(
                    [query_id_col, "_key", id_col],
                    ascending=[True, not larger_better, True],
                )
                .groupby(query_id_col, sort=False)
                .head(k)
                .drop(columns="_key")
            )
            yield allf

    return df.select(*in_cols).mapInPandas(part_topk, schema=schema)
