"""Micro-fixture tests for the vector math (FIXTURES.md §5).

Hand-computable cases: orthogonal/identical/opposite pairs, the zero-vector
guard (`reference: src/compute_server.py:36-37`), euclidean distances.
"""

import math

import pytest
from pyspark.sql import functions as F

from distributed_vector_database_spark.functions.vector import (
    cosine_similarity,
    dot,
    euclidean_distance,
    l2_norm,
)


@pytest.fixture(scope="module")
def pairs(spark):
    rows = [
        ("identical", [1.0, 2.0, 2.0], [1.0, 2.0, 2.0]),
        ("opposite", [1.0, 0.0, 0.0], [-1.0, 0.0, 0.0]),
        ("orthogonal", [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
        ("zero_left", [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
        ("zero_right", [1.0, 2.0, 3.0], [0.0, 0.0, 0.0]),
        ("both_zero", [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),
        ("pythagoras", [0.0, 0.0, 0.0], [3.0, 4.0, 0.0]),
        ("scaled", [1.0, 1.0, 0.0], [5.0, 5.0, 0.0]),
    ]
    return spark.createDataFrame(
        rows, "name string, a array<double>, b array<double>"
    )


def scores(pairs):
    return {
        r["name"]: r
        for r in pairs.select(
            "name",
            cosine_similarity("a", "b").alias("cos"),
            euclidean_distance("a", "b").alias("euc"),
            dot("a", "b").alias("dot"),
            l2_norm("a").alias("na"),
        ).collect()
    }


def test_cosine(pairs):
    s = scores(pairs)
    assert s["identical"]["cos"] == pytest.approx(1.0)
    assert s["opposite"]["cos"] == pytest.approx(-1.0)
    assert s["orthogonal"]["cos"] == pytest.approx(0.0)
    assert s["scaled"]["cos"] == pytest.approx(1.0)
    # reference zero-norm guard returns 0.0, src/compute_server.py:36-37
    assert s["zero_left"]["cos"] == 0.0
    assert s["zero_right"]["cos"] == 0.0
    assert s["both_zero"]["cos"] == 0.0


def test_euclidean(pairs):
    s = scores(pairs)
    assert s["identical"]["euc"] == pytest.approx(0.0)
    assert s["pythagoras"]["euc"] == pytest.approx(5.0)
    assert s["opposite"]["euc"] == pytest.approx(2.0)


def test_dot_and_norm(pairs):
    s = scores(pairs)
    assert s["identical"]["dot"] == pytest.approx(9.0)
    assert s["identical"]["na"] == pytest.approx(3.0)
    assert s["both_zero"]["dot"] == 0.0


def test_float32_input_upcast(spark):
    """Storage is float32 (testdata embeddings); math must be float64."""
    df = spark.createDataFrame(
        [([0.1, 0.2],), ([0.3, 0.4],)], "v array<float>"
    )
    out = df.select(dot("v", "v").alias("d")).collect()
    # float32(0.1) etc upcast to double then multiplied
    assert out[0]["d"] == pytest.approx(0.05, abs=1e-7)
    assert out[1]["d"] == pytest.approx(0.25, abs=1e-6)


def test_topk_arrow_equals_expr(spark):
    """The Arrow/BLAS single-query path returns exactly the expression
    path's results (same rounding, same tie-breaks)."""
    from distributed_vector_database_spark.operators.topk import topk
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    for metric in ("cosine", "euclidean", "dot"):
        a = [tuple(r) for r in topk(emb, q, k=12, metric=metric).collect()]
        b = [tuple(r) for r in topk(emb, q, k=12, metric=metric, method="arrow").collect()]
        assert a == b, metric


def test_radius_search_matches_filterled_scan(spark):
    """radius_search == manual score-and-filter, both metrics' directions."""
    from distributed_vector_database_spark.operators.topk import (
        radius_search,
        topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter("vec_id = 1").head()["embedding"]]

    cos = radius_search(emb, qv, 0.15, metric="cosine")
    rows = {r["vec_id"]: r["score"] for r in cos.collect()}
    assert rows[1] == 1.0  # the query itself passes
    assert all(s >= 0.15 for s in rows.values())
    # consistent with topk: every radius hit above the kth score is in topk
    top = {r["vec_id"] for r in topk(emb, qv, k=len(rows)).collect()}
    assert set(rows) == top

    euc = radius_search(emb, qv, 2.0, metric="euclidean")
    assert all(r["score"] <= 2.0 for r in euc.collect())


def test_l2_normalize_unit_norm_and_zero_guard(spark):
    from distributed_vector_database_spark.functions.vector import (
        l2_norm,
        l2_normalize,
    )
    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [0.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    out = l2_normalize(df, "embedding")
    assert out.columns == ["vec_id", "embedding"]
    norms = {
        r["vec_id"]: r["n"]
        for r in out.select(
            "vec_id", SF.round(l2_norm("embedding"), 9).alias("n")
        ).collect()
    }
    assert norms[1] == 1.0 and norms[3] == 1.0
    assert norms[2] == 0.0  # zero vector passes through
    row = {r["vec_id"]: r["embedding"] for r in out.collect()}
    assert row[1] == [0.6, 0.8]


def test_exact_6dp_rounding_on_boundaries(spark):
    """The bigram_kn_ppl incident class: exact rationals ON a 6dp
    boundary must round half-away-from-zero identically in Spark and
    DuckDB. 232718066/68 micros = 3.4223245 exactly — the double is
    fractionally BELOW, so float rounding says .422324; the exact
    integer form must say .422325 in both engines."""
    import duckdb

    from distributed_vector_database_spark.functions.vector import (
        micros_mean_6dp_exact,
        ratio_6dp_exact,
    )

    df = spark.createDataFrame(
        [
            (232718066, 68),     # exact boundary (the live incident)
            (-232718066, 68),    # negative twin: half-away -> -3.422325
            (1, 3),              # plain value: 0.333333
            (0, 5),              # zero
            (1, 1600000),        # ratio boundary: 0.625e-6 -> 0.000001
        ],
        "s long, n long",
    )
    got = df.select(
        micros_mean_6dp_exact("s", "n").alias("mean6"),
        ratio_6dp_exact("s", "n").alias("ratio6"),
    ).collect()
    assert [r["mean6"] for r in got] == [
        3.422325,
        -3.422325,
        0.0,
        0.0,
        0.0,
    ]
    assert got[2]["ratio6"] == 0.333333
    assert got[4]["ratio6"] == 1e-06  # 1/1.6e6 = 0.000000625 -> .000001

    # DuckDB mirror agrees bit-for-bit on every case
    con = duckdb.connect()
    duck = con.sql(
        """
        SELECT sign(s) * ((2 * abs(s) + n) // (2 * n)) / 1e6 AS mean6,
               sign(s) * ((2000000 * abs(s) + n) // (2 * n)) / 1e6 AS ratio6
        FROM (VALUES (232718066::BIGINT, 68::BIGINT),
                     (-232718066, 68), (1, 3), (0, 5), (1, 1600000)) t(s, n)
        """
    ).fetchall()
    assert [d[0] for d in duck] == [r["mean6"] for r in got]
    assert [d[1] for d in duck] == [r["ratio6"] for r in got]


def test_vector_literal_round_trips_bit_exact_and_folds(spark):
    """vector_literal carries every double bit-exactly (signed zero, NaN,
    infinities, the smallest subnormal, the largest finite) and Catalyst
    folds it to a plain literal: no from_json is left in the optimized
    plan."""
    import struct

    from distributed_vector_database_spark.functions.vector import (
        vector_literal,
    )

    flat = [-0.0, float("nan"), float("inf"), float("-inf"), 5e-324,
            1.7976931348623157e308, 0.1, 1.0 / 3.0]
    matrix = [[1.5, -0.0], [5e-324, -2.0], [float("nan"), 7.0]]
    df = spark.range(1).select(
        vector_literal(flat).alias("v"),
        vector_literal([]).alias("e"),
        vector_literal(matrix).alias("m"),
    )
    assert dict(df.dtypes) == {
        "v": "array<double>", "e": "array<double>",
        "m": "array<array<double>>",
    }
    row = df.head()

    def bits(xs):
        return [struct.pack(">d", x) for x in xs]

    assert bits(row["v"]) == bits(flat)
    assert row["e"] == []
    assert [bits(r) for r in row["m"]] == [bits(r) for r in matrix]
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in optimized
    assert "1.7976931348623157E308" in optimized


def test_cosine_against_constant_query_folds_query_norm(spark):
    """A constant query's norm is a driver-side float: the optimized
    single-query cosine plan holds the query literal only inside the
    row-query dot product, never in an aggregate over the query alone,
    and its scores are bit-identical to the column-vs-column cosine,
    including the zero-norm guard on both sides."""
    q = [0.5, -1.0, 2.0]
    rows = [
        (0, [0.5, -1.0, 2.0]),
        (1, [1.0, 2.0, 3.0]),
        (2, [0.0, 0.0, 0.0]),
        (3, [-7.5, 0.125, 1e10]),
    ]
    df = spark.createDataFrame(rows, "id int, v array<float>").withColumn(
        "qcol", F.array(*[F.lit(x) for x in q]).cast("array<double>")
    )
    const = df.select("id", cosine_similarity("v", q).alias("c"))
    optimized = const._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("[0.5,-1.0,2.0]") == 1
    assert "zip_with([0.5,-1.0,2.0]" not in optimized
    assert "aggregate([0.5,-1.0,2.0]" not in optimized
    column = df.select("id", cosine_similarity("v", "qcol").alias("c"))
    got = [r["c"] for r in const.orderBy("id").collect()]
    assert got == [r["c"] for r in column.orderBy("id").collect()]
    assert got[2] == 0.0
    zero_q = df.select(cosine_similarity("v", [0.0] * 3).alias("c"))
    assert [r["c"] for r in zero_q.collect()] == [0.0] * 4
