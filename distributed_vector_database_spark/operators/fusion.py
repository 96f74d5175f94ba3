"""Hybrid-retrieval rank fusion.

Modern retrieval stacks run SEVERAL arms per query — lexical (BM25/TF
cosine), dense-vector ANN, sometimes structured filters — and fuse the
ranked lists. Reciprocal-rank fusion (Cormack, Clarke & Buettcher,
"Reciprocal Rank Fusion outperforms Condorcet and individual Rank
Learning Methods", SIGIR 2009) is the standard score-free fuser:

    rrf(d) = Σ_arms  w_arm / (k + rank_arm(d))

Score-free matters operationally: cosine and Jaccard live on different
scales, and RRF needs only each arm's RANKS, so arms can be added or
swapped without calibration.

Beyond-reference surface: the reference is single-arm (vector cosine
only, `reference: src/compute_server.py:107-138`); a training-data
curation stack needs the lexical arm for exact-term recall and the
fusion step to combine them.

Spark shape: each arm is already a tiny top-N DataFrame (k·arms rows
total — post-top-k, NOT corpus-sized), so fusion is a unionByName of
slivers + one groupBy on the id: negligible cost at any corpus scale,
and the expensive parts (the arms) keep their own optimal plans.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_vector_database_spark.functions.vector import round_score

__all__ = [
    "rrf_fuse",
    "ranked",
    "late_interaction_topk",
    "mmr_rerank",
    "rocchio_expanded_topk",
]


def ranked(
    scored: DataFrame,
    *,
    id_col: str = "doc_id",
    score_col: str = "score",
    ascending: bool = False,
    top_n: int | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Attach a deterministic dense rank: order by (score, id) — score
    descending by default (similarities), ascending for distances — and
    keep ``top_n`` if given. Rank ties are impossible because the id
    tie-break totalizes the order; rank the ROUNDED score upstream so the
    order is reproducible across engines."""
    from pyspark.sql import Window

    sc = F.asc(score_col) if ascending else F.desc(score_col)
    w = Window.orderBy(sc, F.asc(id_col))
    out = scored.withColumn(rank_col, F.row_number().over(w))
    if top_n is not None:
        out = out.filter(F.col(rank_col) <= top_n)
    return out


def rrf_fuse(
    arms: Sequence[DataFrame],
    k: int = 60,
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    weights: Sequence[float] | None = None,
    out_col: str = "rrf_score",
) -> DataFrame:
    """Fuse ranked lists by reciprocal-rank score (see module doc).

    Each arm needs (id_col, rank_col); ids missing from an arm simply
    contribute nothing for it. Returns (id, out_col) rounded to 6dp,
    unordered — callers order by (out_col DESC, id ASC) for a
    deterministic final list.
    """
    if not arms:
        raise ValueError("rrf_fuse needs at least one ranked arm")
    if weights is not None and len(weights) != len(arms):
        raise ValueError("weights must match the number of arms")
    parts = []
    for i, df in enumerate(arms):
        w = 1.0 if weights is None else float(weights[i])
        parts.append(
            df.select(
                F.col(id_col),
                (
                    F.lit(w)
                    / (F.lit(float(k)) + F.col(rank_col).cast("double"))
                ).alias("_contrib"),
            )
        )
    u = reduce(lambda a, b: a.unionByName(b), parts)
    return u.groupBy(id_col).agg(
        round_score(F.sum("_contrib"), 6).alias(out_col)
    )


def late_interaction_topk(
    units: DataFrame,
    query_vectors: Sequence[Sequence[float]],
    k: int = 10,
    *,
    doc_col: str = "doc_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """ColBERT-style late-interaction (MaxSim) retrieval: score each
    document as the sum over query vectors of the MAX cosine any of the
    document's scoring units (chunks / passages / token groups) achieves
    against that query vector:

        score(d) = Σ_q  max_{u ∈ units(d)}  cos(q, u)

    (Khattab & Zaharia, "ColBERT", SIGIR 2020 — MaxSim over token
    embeddings; here the unit granularity is whatever ``units`` carries,
    typically `chunking.chunk_documents` output under `hashing_embed`.)

    Plan shape: the |Q| query vectors enter as plan literals, every unit
    row is scored against all of them in ONE codegen'd projection, and
    the per-doc max/sum is a single partial-aggregable groupBy — shuffle
    width |docs| x |Q| maxes, never the unit table. Determinism: each
    per-unit cosine rounds to 6dp BEFORE the max (exact comparisons),
    and the final sum is a fixed-order expression over the |Q| max
    columns, not a float aggregation — bit-identical cross-engine.
    """
    from distributed_vector_database_spark.operators.topk import score_column

    score_cols = []
    for i, q in enumerate(query_vectors):
        score_cols.append(
            round_score(
                score_column("cosine", F.col(vector_col), q), 6
            ).alias(f"_s{i}")
        )
    scored = units.select(F.col(doc_col), *score_cols)
    agg = scored.groupBy(doc_col).agg(
        *[
            F.max(f"_s{i}").alias(f"_m{i}")
            for i in range(len(query_vectors))
        ]
    )
    total = F.col("_m0")
    for i in range(1, len(query_vectors)):
        total = total + F.col(f"_m{i}")
    return (
        agg.select(F.col(doc_col), F.round(total, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(doc_col))
        .limit(k)
    )


def mmr_rerank(
    shortlist: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    lambda_: float = 0.5,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR
    1998) of a retrieval SHORTLIST: greedily pick

        argmax_d  lambda * rel(d) - (1 - lambda) * max_{s in S} sim(d, s)

    where rel and sim are cosine (6-dp rounded, ties by lowest id — the
    engine-wide determinism contract). ``lambda_=1`` is plain relevance
    order; lower values trade relevance for novelty.

    Stage placement: MMR is inherently sequential (each pick changes the
    next argmax), so it runs on the COLLECTED shortlist — tens to
    hundreds of rows produced by a distributed first stage (`topk`,
    `IVFPQIndex.search` + re-rank), the same small-model-on-driver
    pattern as the PQ codebooks. The corpus-scale work stays in the
    first stage; this is O(k·|shortlist|) driver arithmetic.

    Returns ``(rank, id, relevance, mmr_score)`` — ``mmr_score`` of the
    first pick is its relevance (no selected set yet).
    """
    import numpy as np

    cap = int(os.environ.get("SPARK_GRAFT_MAX_SHORTLIST", "10000"))
    # limit(cap+1) bounds the guard's own collect
    rows = shortlist.select(id_col, vector_col).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"mmr_rerank: shortlist exceeds {cap} rows. MMR is a sequential "
            "re-rank of a small retrieval shortlist — shrink the first-stage "
            "top-k, or raise SPARK_GRAFT_MAX_SHORTLIST deliberately (cost "
            "is O(k*|shortlist|) driver arithmetic)."
        )
    ids = [r[0] for r in rows]
    mat = np.asarray([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    q = np.asarray([float(x) for x in query_vector], dtype=np.float64)

    def _cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        if na == 0.0 or nb == 0.0:
            return 0.0
        return float((a @ b) / (na * nb))

    rel = {i: round(_cos(mat[j], q), 6) for j, i in enumerate(ids)}
    vec = {i: mat[j] for j, i in enumerate(ids)}
    selected: list[tuple[int, float]] = []
    remaining = set(ids)
    while remaining and len(selected) < k:
        best = None
        for i in sorted(remaining):
            if selected:
                red = max(round(_cos(vec[i], vec[s]), 6) for s, _ in selected)
                sc = round(lambda_ * rel[i] - (1.0 - lambda_) * red, 6)
            else:
                sc = round(lambda_ * rel[i], 6) if lambda_ != 1.0 else rel[i]
            if best is None or sc > best[1]:
                best = (i, sc)
        selected.append(best)
        remaining.discard(best[0])
    spark = shortlist.sparkSession
    # Inherit the shortlist's id type — string ids (e.g. the
    # reference-format sqlite store) must not be miscast to long.
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("rank", IntegerType()),
            StructField(id_col, shortlist.schema[id_col].dataType),
            StructField("relevance", DoubleType()),
            StructField("mmr_score", DoubleType()),
        ]
    )
    return spark.createDataFrame(
        [
            (r + 1, i, rel[i], sc)
            for r, (i, sc) in enumerate(selected)
        ],
        schema,
    )


def rocchio_expanded_topk(
    dense: DataFrame,
    query_vector: Sequence[float],
    *,
    k_feedback: int = 5,
    alpha: int = 4,
    beta: int = 3,
    k: int = 10,
    vector_col: str = "embedding",
    id_col: str = "doc_id",
    exclude_ids: Sequence | None = None,
) -> DataFrame:
    """Pseudo-relevance-feedback search (Rocchio, 1971; Manning et al.,
    IIR ch. 9): retrieve k_feedback docs for the raw query, expand the
    query toward their centroid, re-search with the expanded query:

        q' = alpha * q + beta * mean(top-k_feedback vectors)

    Implemented scale-invariantly in EXACT integer arithmetic when the
    input vectors are integer counts (the hashing embedder with
    normalize=False): q' is computed as

        alpha * k_feedback * q  +  beta * sum(feedback vectors)

    which is k_feedback * (alpha*q + beta*mean) — a positive scalar
    multiple, so every cosine is unchanged while all coordinates stay
    integers (bit-identical across engines; no float mean).

    Beyond-reference surface: the reference serves single-shot vector
    search only (`reference: src/compute_server.py:107-138`); curation
    and retrieval stacks use PRF to recover vocabulary-mismatch recall
    without a trained reranker.

    Scale shape: two TakeOrderedAndProject corpus scans (the two
    searches) + one k_feedback-row driver collect (bounded below) — no
    extra shuffle, no crossJoin; at 100 TB both scans stay the standard
    pruned top-k path.

    Returns the final (id_col, score) top-k, ordered (score DESC, id ASC).
    """
    from distributed_vector_database_spark.operators.topk import topk

    if not (1 <= k_feedback <= 64):
        raise ValueError(
            f"k_feedback must be in [1, 64] (it is collected to the "
            f"driver and folded into the expanded query), got {k_feedback}"
        )
    if alpha < 0 or beta < 0 or (alpha == 0 and beta == 0):
        raise ValueError("alpha/beta must be non-negative, not both zero")
    cand = dense
    if exclude_ids:
        cand = dense.filter(~F.col(id_col).isin(list(exclude_ids)))
    fb = topk(
        cand,
        query_vector,
        k=k_feedback,
        vector_col=vector_col,
        id_col=id_col,
    )
    # k_feedback rows, each dim floats — a bounded driver collect (same
    # discipline as the PQ codebook / centroid seeds).
    fb_rows = (
        fb.select(id_col)
        .join(dense.select(id_col, vector_col), id_col)
        .select(vector_col)
        .collect()
    )
    dim = len(query_vector)
    sums = [0.0] * dim
    for r in fb_rows:
        v = r[0]
        for i in range(dim):
            sums[i] += float(v[i])
    q2 = [
        float(alpha * k_feedback) * float(query_vector[i]) + float(beta) * sums[i]
        for i in range(dim)
    ]
    return topk(dense, q2, k=k, vector_col=vector_col, id_col=id_col)
