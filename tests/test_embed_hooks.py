"""Conditional coverage for the gated real-model embedding hook.

``transformer_embed_udf`` is the production path mirroring the reference's
sentence-transformers embedder (reference: src/embed.py:6-20); this
container has no model libraries, so the offline ``hashing_embed`` is the
oracle-checked substitute. These tests make sure the production UDF body
is exercised wherever the library DOES exist, and that the gate fails
loudly (not silently) where it doesn't.
"""

import pytest
from pyspark.sql import functions as F

from distributed_vector_database_spark.functions.embed import (
    transformer_embed_udf,
)

_HAS_ST = True
try:
    import sentence_transformers  # noqa: F401
except ImportError:
    _HAS_ST = False


@pytest.mark.skipif(_HAS_ST, reason="library present: gate does not trigger")
def test_transformer_gate_raises_without_library():
    with pytest.raises(NotImplementedError, match="sentence-transformers"):
        transformer_embed_udf()


@pytest.mark.skipif(not _HAS_ST, reason="sentence-transformers not installed")
def test_transformer_embed_runs(spark, documents):
    """Production pandas_udf path: real model, Arrow batches, fixed-dim
    float vectors, deterministic across invocations."""
    udf = transformer_embed_udf()
    docs = documents.limit(4).select("doc_id", "text")
    out = docs.select("doc_id", udf(F.col("text")).alias("emb")).collect()
    assert len(out) == 4
    dims = {len(r["emb"]) for r in out}
    assert len(dims) == 1 and dims.pop() > 0
    again = {
        r["doc_id"]: r["emb"]
        for r in docs.select("doc_id", udf(F.col("text")).alias("emb")).collect()
    }
    for r in out:
        assert again[r["doc_id"]] == pytest.approx(r["emb"], abs=1e-6)


def test_word2vec_doc_embeddings_invariants(spark):
    """MLlib Word2Vec path (the trainable, dependency-free middle rung):
    seeded single-partition training reproduces itself; docs built from
    one topic's co-occurring vocabulary embed closer to each other than
    to the other topic; all-OOV docs get the zero vector."""
    from distributed_vector_database_spark.functions.embed import (
        word2vec_doc_embeddings,
    )

    import numpy as np

    # two disjoint-vocab topics, words co-occurring within topic only
    a_words = [f"apple{i}" for i in range(6)]
    b_words = [f"bolt{i}" for i in range(6)]
    rows = []
    did = 0
    for words in (a_words, b_words):
        for s in range(8):  # rotated windows force co-occurrence
            text = " ".join(words[(s + j) % 6] for j in range(4))
            rows.append((did, text))
            did += 1
    rows.append((did, "zzz qqq www"))  # all OOV (min_count=2 drops them)
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    model, emb = word2vec_doc_embeddings(docs, dim=16, min_count=2, seed=7)
    got = {r["doc_id"]: np.array(r["embedding"]) for r in emb.collect()}
    assert len(got) == len(rows) and all(len(v) == 16 for v in got.values())
    assert np.allclose(got[did], 0.0)  # OOV doc -> zero vector

    def cos(x, y):
        nx, ny = np.linalg.norm(x), np.linalg.norm(y)
        return float(x @ y / (nx * ny)) if nx and ny else 0.0

    within = [cos(got[0], got[i]) for i in range(1, 8)]
    across = [cos(got[0], got[8 + i]) for i in range(8)]
    assert min(within) > max(across), (within, across)

    # same seed, single partition -> bit-identical rerun
    _, emb2 = word2vec_doc_embeddings(docs, dim=16, min_count=2, seed=7)
    got2 = {r["doc_id"]: np.array(r["embedding"]) for r in emb2.collect()}
    assert all(np.array_equal(got[k], got2[k]) for k in got)


def test_word2vec_embeddings_compose_with_ivf_search(spark):
    """The trainable embedding path plugs straight into the ANN stack:
    w2v doc embeddings -> IVF shard assignment -> pruned top-k retrieves
    the query doc's own topic-mates first (end-to-end composition, the
    switch-path a reference user would take when transformers are
    unavailable)."""
    import numpy as np

    from distributed_vector_database_spark.functions.embed import (
        word2vec_doc_embeddings,
    )
    from distributed_vector_database_spark.operators.ivf import (
        assign_shards,
    )
    from distributed_vector_database_spark.operators.topk import topk

    a_words = [f"apple{i}" for i in range(6)]
    b_words = [f"bolt{i}" for i in range(6)]
    rows = []
    did = 0
    for words in (a_words, b_words):
        for s in range(8):
            rows.append(
                (did, " ".join(words[(s + j) % 6] for j in range(4)))
            )
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _, emb = word2vec_doc_embeddings(docs, dim=16, min_count=2, seed=7)
    emb = emb.withColumnRenamed("doc_id", "vec_id")
    rows_e = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    cents = [list(rows_e[0]), list(rows_e[8])]  # one centroid per topic
    indexed = assign_shards(emb, cents)
    # every topic-a doc routes to shard 0, topic-b to shard 1
    shards = {r["vec_id"]: r["shard_id"] for r in indexed.collect()}
    assert all(shards[i] == 0 for i in range(8))
    assert all(shards[i] == 1 for i in range(8, 16))
    got = topk(emb, list(rows_e[1]), k=5)
    ids = [r["vec_id"] for r in got.collect()]
    assert set(ids) <= set(range(8))  # all results from the query's topic


def test_doc_embed_from_vocab_micros_matches_mllib_transform(spark):
    """The relational transform reproduces Word2VecModel.transform's exact
    semantics — in-vocab vector sum over TOTAL token count (MLlib divides
    by sentence length: measured, an OOV-bearing doc discriminates the
    two denominators) — within the fixture's micro quantization."""
    from pyspark.ml.functions import vector_to_array

    from distributed_vector_database_spark.functions.embed import (
        doc_embed_from_vocab_micros,
        word2vec_doc_embeddings,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b c"),
            (2, "b c b c a"),
            (3, "a b rare"),  # 'rare' below minCount -> OOV, n_tokens=3
            (4, "c a c b a"),
        ],
        "doc_id long, text string",
    )
    model, emb = word2vec_doc_embeddings(docs, dim=4, min_count=2, seed=7)
    vocab = (
        model.getVectors()
        .select("word", F.posexplode(vector_to_array("vector"))
                .alias("dim", "_v"))
        .select(
            "word",
            F.col("dim").cast("int"),
            F.round(F.col("_v") * 1e6).cast("long").alias("val_micros"),
        )
    )
    got = {
        (r["doc_id"], r["dim"]): r
        for r in doc_embed_from_vocab_micros(docs, vocab).collect()
    }
    exp = {r["doc_id"]: list(r["embedding"]) for r in emb.collect()}
    assert len(got) == 16  # 4 docs x 4 dims, every doc has in-vocab tokens
    for (did, dim), r in got.items():
        # micros quantization (0.5e-6/component) + floor (1e-6)
        assert abs(r["mean_micros"] / 1e6 - exp[did][dim]) < 3e-6
    # the OOV doc: 2 in-vocab tokens, denominator 3 (MLlib semantics)
    assert got[(3, 0)]["n_invocab"] == 2
    assert got[(3, 0)]["n_tokens"] == 3


def test_w2v_fixture_is_committed_and_well_formed():
    """The frozen model table the w2v_doc_embed_transform row depends on:
    24 words x 8 dims, long format, integer micros, no nulls."""
    import os

    import pandas as pd

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "fixtures", "w2v_vocab_micros.parquet")
    assert os.path.exists(path), "run scripts/make_w2v_fixture.py"
    df = pd.read_parquet(path)
    assert list(df.columns) == ["word", "dim", "val_micros"]
    assert df.word.nunique() == 24 and sorted(df.dim.unique()) == list(
        range(8)
    )
    assert len(df) == 192 and not df.isna().any().any()
    assert str(df.val_micros.dtype) == "int64"


# ---------------------------------------------------------------------------
# Round 13 (optimization): driver-side fast-path twins of the Spark setup
# derivations. These MUST stay bit-identical to the distributed path — the
# fast path replaces whole Spark jobs inside timed query setup, so any
# divergence would silently change query results.
# ---------------------------------------------------------------------------


def test_hash_embed_py_matches_hashing_embed(spark):
    """_hash_embed_py ≡ hashing_embed(normalize=False) element-for-element,
    including unicode-whitespace handling (Java \\s is ASCII-only) and
    repeated/empty tokens."""
    from distributed_vector_database_spark.functions.embed import (
        hashing_embed,
    )
    from distributed_vector_database_spark.queries import _hash_embed_py

    texts = [
        "scan join filter scan scan",
        "  leading and trailing  ",
        "tabs\tand\nnewlines\tmix",
        "nbsp stays-one-token",  # unicode NBSP: NOT a Java \s split
        "",
        "single",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: [float(x) for x in r["embedding"]]
        for r in hashing_embed(df, dim=64, normalize=False).collect()
    }
    for i, t in enumerate(texts):
        assert _hash_embed_py(t, 64) == got[i], f"text {i!r} diverged"


def test_embedding_rows_local_matches_spark_collect(spark):
    """pyarrow fast path == Spark collect for both predicates the query
    setup helpers use (vec_id == q, vec_id < n)."""
    import os

    from pyspark.sql import functions as F

    from distributed_vector_database_spark.queries import (
        _embedding_rows_local,
        _hashed_doc_vec,
        _query_vec,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    spark_lt = [
        [float(x) for x in r[0]]
        for r in emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    assert _embedding_rows_local(sf_dir, lt=16) == spark_lt
    spark_eq = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 100).head()["embedding"]
    ]
    assert _query_vec(spark, sf_dir, 100) == spark_eq

    # doc-derived query vector: fast path == hashing_embed over doc 0
    from distributed_vector_database_spark.functions.embed import (
        hashing_embed,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spark_qv = [
        float(x)
        for x in hashing_embed(
            docs.filter(F.col("doc_id") == 0), dim=64, normalize=False
        ).head()["embedding"]
    ]
    assert _hashed_doc_vec(sf_dir, 0, 64) == spark_qv


def test_local_parquet_declines_remote_and_missing():
    """The fast path must hand non-local roots back to Spark."""
    from distributed_vector_database_spark.queries import _local_parquet

    assert _local_parquet("hdfs://nn/warehouse/sf1", "embeddings") is None
    assert _local_parquet("/nonexistent/dir", "embeddings") is None


def test_master_is_local_memo_is_per_session_not_per_id():
    """ADVICE r14: the memo was keyed on id(session); a new session at a
    freed session's address got the old answer. Two distinct session-like
    objects that share an id must each get their own master."""
    import gc

    from distributed_vector_database_spark.queries import _master_is_local

    class Conf:
        def __init__(self, master):
            self.master = master

        def get(self, key, default=None):
            assert key == "spark.master"
            return self.master

    # the masters live on the classes, so an instance is one allocation
    # and CPython's allocator hands a freed instance's slot to the next
    class LocalSess:
        conf = Conf("local[4]")

    class RemoteSess:
        conf = Conf("spark://cluster:7077")

    local = LocalSess()
    assert _master_is_local(local) is True
    freed = id(local)
    del local
    gc.collect()
    remote, keep = None, []
    for _ in range(1000):
        cand = RemoteSess()
        if id(cand) == freed:
            remote = cand
            break
        keep.append(cand)
    assert remote is not None, "no session-like object reused the freed id"
    assert _master_is_local(remote) is False
