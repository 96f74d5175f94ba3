"""SQ8 scalar quantization (operators/sq.py): encode/dequantize bounds,
ADC search quality, and the two-stage re-rank contract."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.sq import (
    fit_sq_bounds,
    sq_dequantize_col,
    sq_encode_col,
    sq_rerank_topk,
    sq_topk,
)


@pytest.fixture(scope="module")
def bounds(embeddings):
    return fit_sq_bounds(embeddings)


def test_codes_are_uint8_domain(embeddings, bounds):
    coded = embeddings.select(
        sq_encode_col("embedding", bounds).alias("codes")
    )
    mm = coded.select(
        F.array_min("codes").alias("lo"), F.array_max("codes").alias("hi")
    ).agg(F.min("lo"), F.max("hi")).head()
    assert mm[0] >= 0 and mm[1] <= 255


def test_reconstruction_error_bounded_by_half_scale(embeddings, bounds):
    """|x - dequant(encode(x))| <= scale_d / 2 per dimension, corpus-wide."""
    deq = sq_dequantize_col(sq_encode_col("embedding", bounds), bounds)
    max_scale = max(
        (hi - lo) / 255.0 if hi > lo else 0.0 for lo, hi in bounds
    )
    worst = (
        embeddings.select(
            F.array_max(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    deq,
                    lambda a, b: F.abs(a - b),
                )
            ).alias("err")
        )
        .agg(F.max("err"))
        .head()[0]
    )
    assert worst <= max_scale / 2 + 1e-12


def test_adc_matches_numpy_reference(embeddings, bounds):
    """Spark's inline dequant cosine == numpy on the same quantization."""
    rows = embeddings.orderBy("vec_id").limit(50).collect()
    ids = [r["vec_id"] for r in rows]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mins = np.array([lo for lo, _ in bounds])
    scales = np.array(
        [(hi - lo) / 255.0 if hi > lo else 1.0 for lo, hi in bounds]
    )
    codes = np.round((mat - mins) / scales)
    deq = mins + codes * scales
    qv = mat[0]
    sims = (deq @ qv) / (np.linalg.norm(deq, axis=1) * np.linalg.norm(qv))
    order = np.lexsort((ids, -np.round(sims, 6)))[:5]
    exp = [ids[i] for i in order]
    sub = embeddings.filter(F.col("vec_id").isin(ids))
    coded = sub.select(
        "vec_id", sq_encode_col("embedding", bounds).alias("codes")
    )
    got = [r["vec_id"] for r in sq_topk(coded, list(qv), bounds, k=5).collect()]
    assert got == exp


def test_rerank_scores_are_exact_cosine(embeddings, bounds):
    """Stage-2 scores equal the exact float top-k when the shortlist is
    wide enough to contain the true top-k."""
    from distributed_vector_database_spark.operators.topk import topk

    qv = [
        float(x)
        for x in embeddings.filter(F.col("vec_id") == 3).head()["embedding"]
    ]
    got = sq_rerank_topk(embeddings, qv, bounds, k=5, shortlist=100).collect()
    exp = topk(embeddings, qv, k=5).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in exp
    ]


def test_fit_sq_bounds_empty_corpus_raises(embeddings):
    """Regression (ADVICE r4): fitting on an empty frame raises a clear
    ValueError instead of a TypeError on `head()[...]` — on both the
    expression path (dim inferred) and the Arrow path (dim > 256)."""
    empty = embeddings.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty corpus"):
        fit_sq_bounds(empty)
    with pytest.raises(ValueError, match="empty corpus"):
        fit_sq_bounds(empty, dim=768)


def test_encode_clamps_out_of_range_vectors(spark, embeddings, bounds):
    """Regression (ADVICE r4): vectors ingested after the fit can exceed
    the fitted range; codes must saturate at 0/255, never leave the uint8
    domain the ADC tables assume."""
    dim = len(bounds)
    wild = spark.createDataFrame(
        [
            (0, [1e6] * dim),   # above every hi -> all 255
            (1, [-1e6] * dim),  # below every lo -> all 0
        ],
        "vec_id int, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r["codes"]
        for r in wild.select(
            "vec_id", sq_encode_col("embedding", bounds).alias("codes")
        ).collect()
    }
    assert rows[0] == [255] * dim
    assert rows[1] == [0] * dim


def test_sq_bounds_local_fast_path_matches_spark(spark):
    """queries._sq_bounds' pyarrow/numpy fast path must equal the Spark
    fit_sq_bounds aggregate bound-for-bound (round-13 optimization)."""
    import os

    from distributed_vector_database_spark.operators.sq import fit_sq_bounds
    from distributed_vector_database_spark.queries import _sq_bounds

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert _sq_bounds(spark, sf_dir) == fit_sq_bounds(emb)


def test_sq_bounds_local_fast_path_falls_back_on_ragged_rows(spark, tmp_path):
    """ADVICE r14: ragged rows of lengths 3 and 5 hold 8 values, which
    reshape evenly into a wrong 2 x 4 matrix. The fast path must see the
    uneven list offsets and hand the file to the Spark aggregate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_vector_database_spark.operators.sq import fit_sq_bounds
    from distributed_vector_database_spark.queries import _sq_bounds

    table = pa.table(
        {
            "vec_id": pa.array([0, 1], pa.int64()),
            "embedding": pa.array(
                [[1.0, -2.0, 3.0], [4.0, 5.0, -6.0, 7.0, 8.0]],
                pa.list_(pa.float32()),
            ),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    spark_bounds = fit_sq_bounds(
        spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    )
    assert spark_bounds == [(1.0, 4.0), (-2.0, 5.0), (-6.0, 3.0)]
    assert _sq_bounds(spark, str(tmp_path)) == spark_bounds
