"""Scalar quantization (SQ8): per-dimension uint8 codes for the embedding
table — the third compression point on the engine's accuracy/byte curve,
between binary sign codes (operators/ann.py, 1 bit/dim) and PQ codebooks
(operators/pq.py, sub-byte/dim but codebook-coupled).

SQ8 is the faiss `SQ8`/Milvus `SCALAR_QUANTIZER` shape: store
``round((x - min_d) / scale_d)`` per dimension with per-dimension bounds
fit from the corpus (one aggregate); search dequantizes inline —
``min_d + code * scale_d`` — so the scan reads 1 byte/dim instead of 4
(float32), a 4x working-set cut with near-exact recall (error <=
scale/2 per dim). The reference stores raw float JSON
(`reference: src/storage_server.py:23-27`) and has no compressed search
path at all; at 100 TB, 4x fewer bytes is 4x fewer scan-IO-bound
executors.

Everything here is Catalyst expressions (transform / zip_with /
aggregate in float64) — codes and scores stay inside whole-stage
codegen, no Python in the scan. Bounds are 2·dim doubles collected once
(same bounded-driver-state budget as IVF centroids and PQ codebooks).

Determinism contract (SURVEY.md §5): bounds are exact min/max of the
same float32 parquet values both engines read; scale/dequant arithmetic
is IEEE float64 with sequential left-to-right list accumulation on both
sides; ROUND half-up on non-negative inputs agrees between Spark and
DuckDB; scores round to 6dp before ranking, ties by id.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_vector_database_spark.functions.vector import (
    cosine_similarity,
    round_score,
    vector_literal,
)

__all__ = [
    "fit_sq_bounds",
    "sq_encode_col",
    "sq_dequantize_col",
    "sq_adc_cosine",
    "sq_topk",
    "sq_rerank_topk",
]


def fit_sq_bounds(
    emb: DataFrame, *, vector_col: str = "embedding", dim: int | None = None
) -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus — the SQ8 "codebook".

    Never widens the row count (the posexplode alternative multiplies the
    corpus by dim BEFORE aggregating — a 64x row blow-up at scale). Two
    physical strategies, auto-selected on ``dim``:

      - <= 256 dims: ONE global aggregate carrying 2·dim min/max
        expressions (the `label_prototypes` pattern) — partials combine
        map-side, the shuffle is a single wide row;
      - wider: Arrow per-partition numpy reduce (one (lo, hi) vector
        pair per partition, combined on the driver) — thousands of
        aggregate expressions stall codegen (measured 13.6 s to fit
        768 dims via expressions vs ~1 s via the partition reduce).

    min/max are order-free, so both strategies return identical bounds.
    ``dim`` defaults to the first row's vector length.
    """
    if dim is None:
        head = emb.select(F.size(F.col(vector_col)).alias("_d")).head()
        if head is None:
            raise ValueError(
                "fit_sq_bounds: empty corpus — pass dim explicitly or fit "
                "on a non-empty embedding frame"
            )
        dim = int(head["_d"])
    if dim > 256:
        return _fit_sq_bounds_arrow(emb, vector_col, dim)
    v = F.col(vector_col).cast("array<double>")
    aggs = []
    for i in range(dim):
        aggs.append(F.min(v[i]).alias(f"_lo{i}"))
        aggs.append(F.max(v[i]).alias(f"_hi{i}"))
    row = emb.agg(*aggs).head()
    return [
        (float(row[f"_lo{i}"]), float(row[f"_hi{i}"])) for i in range(dim)
    ]


def _fit_sq_bounds_arrow(
    emb: DataFrame, vector_col: str, dim: int
) -> list[tuple[float, float]]:
    import numpy as np

    schema = "lo binary, hi binary"

    def part(batches):
        import numpy as np
        import pandas as pd

        lo = hi = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            plo, phi = mat.min(axis=0), mat.max(axis=0)
            lo = plo if lo is None else np.minimum(lo, plo)
            hi = phi if hi is None else np.maximum(hi, phi)
        if lo is not None:
            yield pd.DataFrame({"lo": [lo.tobytes()], "hi": [hi.tobytes()]})

    rows = (
        emb.select(F.col(vector_col).cast("array<double>").alias("_v"))
        .mapInPandas(part, schema)
        .collect()
    )
    if not rows:
        raise ValueError("fit_sq_bounds: empty corpus")
    lo = np.full(dim, np.inf)
    hi = np.full(dim, -np.inf)
    for r in rows:
        lo = np.minimum(lo, np.frombuffer(r["lo"], dtype=np.float64))
        hi = np.maximum(hi, np.frombuffer(r["hi"], dtype=np.float64))
    return [(float(a), float(b)) for a, b in zip(lo, hi)]


def _bounds_arrays(bounds: Sequence[tuple[float, float]]):
    mins = vector_literal([lo for lo, _ in bounds])
    # constant dimension (hi == lo) -> scale 1.0 so codes are 0 and
    # dequant returns lo exactly
    scales = vector_literal(
        [(float(hi) - float(lo)) / 255.0 if hi > lo else 1.0 for lo, hi in bounds]
    )
    return mins, scales


def sq_encode_col(
    vector_col, bounds: Sequence[tuple[float, float]]
) -> F.Column:
    """uint8 code array: ``round((x - min_d) / scale_d)`` per dimension,
    stored as array<int> (parquet dictionary/byte-packs it; the plan-level
    point is the 1-byte value domain).

    Codes are clamped to [0, 255]: vectors ingested AFTER the fit can
    fall outside the fitted per-dimension range, and an unclamped round
    would silently break the uint8 domain every downstream ADC table
    assumes (saturating at the range edge is the standard SQ contract)."""
    mins, scales = _bounds_arrays(bounds)
    v = (
        F.col(vector_col) if isinstance(vector_col, str) else vector_col
    ).cast("array<double>")
    return F.transform(
        v,
        lambda x, i: F.greatest(
            F.lit(0),
            F.least(
                F.lit(255),
                F.round(
                    (x - F.element_at(mins, i + 1))
                    / F.element_at(scales, i + 1),
                    0,
                ).cast("int"),
            ),
        ),
    )


def sq_dequantize_col(
    codes_col, bounds: Sequence[tuple[float, float]]
) -> F.Column:
    """Reconstruction: ``min_d + code * scale_d`` (float64 array)."""
    mins, scales = _bounds_arrays(bounds)
    c = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    return F.transform(
        c,
        lambda x, i: F.element_at(mins, i + 1)
        + x.cast("double") * F.element_at(scales, i + 1),
    )


def sq_adc_cosine(
    codes_col,
    query_vector: Sequence[float],
    bounds: Sequence[tuple[float, float]],
) -> F.Column:
    """Approximate cosine against the dequantized vector — one inline
    expression, no materialized reconstruction column."""
    return cosine_similarity(sq_dequantize_col(codes_col, bounds), query_vector)


def sq_topk(
    coded: DataFrame,
    query_vector: Sequence[float],
    bounds: Sequence[tuple[float, float]],
    k: int = 10,
    *,
    codes_col: str = "codes",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by SQ8 approximate cosine: (id, score) with the engine's
    (rounded score DESC, id ASC) tie contract."""
    scored = coded.select(
        F.col(id_col),
        round_score(
            sq_adc_cosine(codes_col, query_vector, bounds)
        ).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def sq_rerank_topk(
    emb: DataFrame,
    query_vector: Sequence[float],
    bounds: Sequence[tuple[float, float]],
    k: int = 10,
    shortlist: int = 50,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage search: SQ8 approximate cosine shortlists ``shortlist``
    candidates (the byte-domain scan), exact float cosine re-ranks the
    survivors — the same shortlist-then-verify shape as the binary and
    matryoshka paths (operators/ann.py). Returns (id, score, rank).

    At scale stage 1 touches 1 byte/dim of the whole corpus and stage 2
    touches 4 bytes/dim of ``shortlist`` rows only.
    """
    codes = sq_encode_col(vector_col, bounds)
    stage1 = (
        emb.select(F.col(id_col), codes.alias("_codes"), F.col(vector_col))
        .select(
            F.col(id_col),
            F.col(vector_col),
            round_score(
                sq_adc_cosine("_codes", query_vector, bounds)
            ).alias("_approx"),
        )
        .orderBy(F.desc("_approx"), F.asc(id_col))
        .limit(shortlist)
    )
    rescored = stage1.select(
        F.col(id_col),
        round_score(cosine_similarity(F.col(vector_col), query_vector)).alias(
            "score"
        ),
    )
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "score", "rank")
    )
