"""Approximate nearest-neighbor search operators.

Three physical strategies over an ``array<float>`` embedding column:

  1. brute force — exact: operators/topk.py (baseline & small corpora);
  2. IVF — centroid-pruned: operators/ivf.py (the reference's own strategy,
     `reference: src/compute_server.py:110` + report p.2);
  3. sign-LSH (this module) — random-hyperplane buckets (Charikar's SimHash
     for cosine): bucket = sign bits of dot(v, plane_j). Indexing is a
     narrow projection (planes are broadcast literals); search reads ONE
     bucket. At 100 TB: write the corpus ``partitionBy("bucket")`` (or
     bucketBy for joins) so a query is a partition-pruned scan of
     |corpus| / 2^bits rows, and batch queries group by bucket.

Recall tuning: more planes -> smaller buckets -> lower recall per probe;
``multiprobe`` flips each bit once (Hamming-1 neighbors) to recover recall
without re-indexing — the same trade the reference exposes as
``shards_to_search`` (`reference: src/compute_server.py:63`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distributed_vector_database_spark.functions.vector import (
    dot,
    vector_literal,
)
from distributed_vector_database_spark.operators.topk import topk

__all__ = [
    "random_hyperplanes",
    "lsh_bucket",
    "lsh_index",
    "lsh_search",
    "binary_topk",
    "binary_asym_topk",
    "binary_rerank_topk",
    "matryoshka_rerank_topk",
    "knn_graph",
    "knn_graph_lsh",
    "adaptive_lsh_keys",
]


def random_hyperplanes(dim: int, n_planes: int = 8, seed: int = 42):
    """Seeded Gaussian hyperplanes for production indexes (tests inject
    data-derived planes so the oracle can reproduce them in SQL)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(
    vector_col: Column | str, planes: Sequence[Sequence[float]]
) -> Column:
    """Bucket id = concatenated sign bits of dot(v, plane_j), e.g. '10110010'.

    JVM-side only: each plane enters the plan as one ``vector_literal``
    array<double>; no shuffle, no Python.
    """
    bits = [
        F.when(dot(vector_col, p) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def lsh_index(
    df: DataFrame,
    planes: Sequence[Sequence[float]],
    *,
    vector_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Add the LSH bucket column. Persist with ``partitionBy(bucket_col)``
    to make every search a partition-pruned scan."""
    return df.withColumn(bucket_col, lsh_bucket(F.col(vector_col), planes))


def _bucket_of(query_vector: Sequence[float], planes) -> str:
    return "".join(
        "1"
        if sum(float(a) * float(b) for a, b in zip(query_vector, p)) >= 0
        else "0"
        for p in planes
    )


def lsh_search(
    indexed: DataFrame,
    planes: Sequence[Sequence[float]],
    query_vector: Sequence[float],
    k: int = 5,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_col: str = "bucket",
    metric: str = "cosine",
    multiprobe: bool = False,
) -> DataFrame:
    """Top-k within the query's bucket (plus Hamming-1 buckets when
    ``multiprobe``). May return fewer than k rows — ANN semantics."""
    qb = _bucket_of(query_vector, planes)
    buckets = [qb]
    if multiprobe:
        for i in range(len(qb)):
            flipped = qb[:i] + ("0" if qb[i] == "1" else "1") + qb[i + 1 :]
            buckets.append(flipped)
    cand = indexed.filter(F.col(bucket_col).isin(buckets))
    return topk(
        cand, query_vector, k, vector_col=vector_col, id_col=id_col, metric=metric
    )


def binary_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by bit-packed sign (binary) quantization: rank the corpus by
    Hamming distance between 1-bit sign codes — the cheapest rung of the
    quantization ladder (32x smaller than float32, distance = XOR +
    popcount, no codebook).

    Returns (id_col, hamming) ordered by (hamming ASC, id ASC). The plan
    is a pruned scan + codegen'd bit ops + TakeOrderedAndProject: at
    100 TB, persist the packed codes as their own skinny column (2 BIGINTs
    for 64-d) and this runs at column-scan speed with no shuffle. Exact
    ties (hamming is integral) make the cut deterministic with the id
    tie-break.
    """
    from distributed_vector_database_spark.functions.quantize import (
        hamming_distance,
        sign_pack,
        sign_pack_vector,
    )

    dim = len(query_vector)
    q = F.array(
        *[F.lit(int(w)).cast("long") for w in sign_pack_vector(query_vector)]
    )
    scored = df.select(
        F.col(id_col),
        hamming_distance(sign_pack(F.col(vector_col), dim), q).alias(
            "hamming"
        ),
    )
    return scored.orderBy(F.asc("hamming"), F.asc(id_col)).limit(k)


def binary_asym_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric binary scoring: the FULL-PRECISION query against
    sign-quantized documents — score = dot(q, sign(d)) = sum_i q_i *
    (d_i >= 0 ? +1 : -1). Same 1-bit/dim storage as :func:`binary_topk`,
    strictly more ranking information: symmetric Hamming also quantizes
    the query, throwing away its magnitudes, while the asymmetric scorer
    keeps them (the same asymmetry PQ's ADC exploits against codebooks).

    Returns (id_col, score) ordered by (score DESC, id ASC), 6dp-rounded.
    Determinism: a left fold in array order on both engines (F.aggregate
    here, list_reduce in the oracle). At 100 TB, persist the packed sign
    codes as a skinny column and expand per 8-bit byte through a
    256-entry per-byte partial-sum LUT — the scan cost stays 1 bit/dim;
    here the signs come straight off the float column, like binary_topk.
    """
    qv = vector_literal(query_vector)
    folded = F.aggregate(
        F.zip_with(
            qv,
            F.col(vector_col).cast("array<double>"),
            lambda q, x: F.when(x >= 0, q).otherwise(-q),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        df.select(F.col(id_col), F.round(folded, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def binary_rerank_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    *,
    shortlist: int = 50,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Two-stage binary search: Hamming shortlist over sign codes, then
    exact re-rank of the ``shortlist`` survivors in full precision — the
    standard compressed-domain recall recovery (same shape as PQ's ADC +
    re-rank, with an even cheaper first stage).

    Returns (id_col, score, rank). Stage 1 never touches the float
    vectors; stage 2 rescores only ``shortlist`` rows via a semi-join on
    id, so the full-precision column is read for O(shortlist) rows.
    """
    from distributed_vector_database_spark.functions.vector import round_score
    from distributed_vector_database_spark.operators.topk import (
        _order,
        score_column,
    )
    from pyspark.sql import Window

    short = binary_topk(
        df, query_vector, shortlist, vector_col=vector_col, id_col=id_col
    )
    cand = df.join(
        F.broadcast(short.select(id_col)), on=id_col, how="left_semi"
    )
    score = round_score(score_column(metric, F.col(vector_col), query_vector), 6)
    scored = cand.select(F.col(id_col), score.alias("score"))
    w = Window.orderBy(*_order(metric, F.col("score"), F.col(id_col)))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "score", "rank")
    )


def matryoshka_rerank_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    *,
    prefix_dim: int = 16,
    shortlist: int = 50,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka (truncated-dimension) two-stage search: shortlist by
    cosine over the first ``prefix_dim`` dimensions, then re-rank the
    survivors in full precision — the MRL serving pattern (Kusupati et
    al. 2022): embeddings trained front-loaded let the coarse stage read
    a prefix_dim/dim fraction of the vector bytes.

    Returns (id_col, score, rank), rank 1..k by full-precision cosine.
    Stage 1 is the same pruned-scan + TakeOrdered plan as ``topk`` but on
    ``slice(vec, 1, prefix_dim)``; at 100 TB, store the prefix as its own
    column (or leading PQ subspaces) so the scan reads prefix bytes only.
    Both stages' cuts order by (rounded score, id) — deterministic.
    """
    from distributed_vector_database_spark.functions.vector import round_score
    from distributed_vector_database_spark.operators.topk import (
        _order,
        score_column,
        topk,
    )
    from pyspark.sql import Window

    prefixed = df.select(
        F.col(id_col),
        F.col(vector_col),
        F.slice(F.col(vector_col).cast("array<double>"), 1, prefix_dim).alias(
            "_prefix"
        ),
    )
    short = topk(
        prefixed,
        [float(x) for x in query_vector[:prefix_dim]],
        shortlist,
        vector_col="_prefix",
        id_col=id_col,
        metric="cosine",
    )
    cand = df.join(
        F.broadcast(short.select(id_col)), on=id_col, how="left_semi"
    )
    score = round_score(
        score_column("cosine", F.col(vector_col), query_vector), 6
    )
    scored = cand.select(F.col(id_col), score.alias("score"))
    w = Window.orderBy(*_order("cosine", F.col("score"), F.col(id_col)))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "score", "rank")
    )


def knn_graph(
    df: DataFrame,
    k: int = 5,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact k-nearest-neighbor graph over the corpus: for every vector,
    its k most similar OTHER vectors — the substrate for SemDeDup-style
    cluster dedup, graph-based label propagation, and kNN classifiers.

    Runs as one ``batch_topk`` job with the corpus itself as the query
    batch: per-partition Arrow GEMM top-(k+1), then a window merge over
    the O(partitions*k*|V|) survivors — never an unreduced |V|^2 shuffle.
    The +1 over-fetch absorbs the self-match, which is then dropped and
    ranks recomputed.

    Exact all-pairs is O(|V|^2) compute by definition, so the corpus size
    is guarded (``max_rows``, same discipline as `batch_topk`'s query
    cap): above it the call refuses with a pointer at the sub-quadratic
    twin `ann.knn_graph_lsh` — optionally with ``max_bucket=`` for the
    adaptive cap, the configuration the registered `knn_graph_lsh_capped`
    query uses (edge-recall 0.94-0.95 on the clustered corpus, RECALL.md)
    — rather than silently launching |V|^2 GEMM work. The guard runs a
    bounded probe job (``limit(max_rows+1).count()`` — stops after
    max_rows+1 rows instead of scanning the full corpus) each call;
    ``max_rows=None`` skips it entirely for deliberate exact runs. At
    100 TB scope the query side to the slice you need neighbors for, or
    use this kernel per-LSH-bucket.
    """
    from distributed_vector_database_spark.operators.topk import (
        _order,
        batch_topk,
    )
    from pyspark.sql import Window

    if max_rows is not None:
        n = df.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"knn_graph is exact O(|V|^2): corpus has more than "
                f"max_rows={max_rows} rows. Use ann.knn_graph_lsh "
                "(optionally with max_bucket=... for the adaptive cap — "
                "the sub-quadratic approximate twin) or pass "
                "max_rows=None for a deliberate exact run."
            )

    queries = df.select(
        F.col(id_col).alias("query_id"),
        F.col(vector_col).cast("array<double>").alias("query_vector"),
    )
    res = batch_topk(
        df,
        queries,
        k + 1,
        vector_col=vector_col,
        id_col=id_col,
        metric=metric,
    ).filter(F.col("query_id") != F.col(id_col))
    w = Window.partitionBy("query_id").orderBy(
        *_order(metric, F.col("score"), F.col(id_col))
    )
    return (
        res.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def adaptive_lsh_keys(
    df: DataFrame,
    planes: Sequence[Sequence[float]],
    max_bucket: int,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    min_depth: int = 4,
    key_col: str = "_key",
) -> DataFrame:
    """Per-row adaptive-depth LSH key: the SHORTEST plane-bit prefix whose
    bucket holds <= ``max_bucket`` rows (full depth as the fallback), so a
    dense cluster — which makes plain fixed-depth LSH's sum_b m_b^2 blow
    up no matter how good the planes are — gets automatically split onto
    more bits while sparse regions keep short prefixes (bigger, recall-
    friendlier buckets).

    Deterministic and consistent: the depth choice is a function of the
    prefix-bucket counts alone, and every row sharing a depth-d prefix
    shares all shallower prefixes, so all members of a final bucket chose
    the same depth; prefix keys of different depths differ in string
    length, so no cross-depth collisions.

    Only a pile of rows with IDENTICAL full signatures can defeat depth
    extension (a cluster tighter than every plane margin — observed: 4000
    copies at noise 1e-3 shared all 16 bits). Those piles are sharded
    into deterministic SALT CELLS of <= ``max_bucket`` rows (ordered by
    md5 of the id, so any SQL engine reproduces the split); members find
    neighbors within their cell only. That is a principled recall trade:
    inside a near-duplicate pile every candidate scores ~identically, so
    which cap-sized subset supplies the k neighbors barely moves the
    result — and it turns the worst case from m^2 into m * max_bucket.
    The salt window shuffles ONLY the over-cap piles (other rows take a
    constant cell).

    Scale shape: bucket counts aggregate to ONE row per full signature
    (map-side combinable; <= min(|V|, 2^bits) rows), every per-depth
    rollup + the depth choice run on that small frame, and rows get their
    final key back through a single (typically broadcast) equi-join on
    the full signature. The data-sized path gains one narrow aggregation
    and one join — no explode of the corpus.

    Returns ``df`` + ``key_col``; feed to any bucket self-join (see
    `knn_graph_lsh(max_bucket=...)`).
    """
    n_bits = len(planes)
    if not 1 <= min_depth <= n_bits:
        raise ValueError(
            f"min_depth must be in [1, {n_bits}], got {min_depth}"
        )
    reserved = {"_full", "_c", "_fullc", "_cell", key_col} & set(df.columns)
    if reserved:
        raise ValueError(
            f"adaptive_lsh_keys uses working columns {sorted(reserved)} "
            "that already exist on the input — rename them (or pass a "
            "different key_col) first"
        )
    depths = list(range(min_depth, n_bits + 1))
    full = lsh_bucket(F.col(vector_col), planes)
    base = df.withColumn("_full", full)
    counts = base.groupBy("_full").agg(F.count("*").alias("_c"))
    # per-depth prefix counts, rolled up from the small full-bucket frame
    pc = None
    for d in depths:
        g = (
            counts.groupBy(F.substring("_full", 1, d).alias("_pk"))
            .agg(F.sum("_c").alias("_pc"))
            .withColumn("_pd", F.lit(d))
        )
        pc = g if pc is None else pc.unionByName(g)
    fp = counts.select(
        "_full",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("_pd"),
                        F.substring("_full", 1, d).alias("_pk"),
                    )
                    for d in depths
                ]
            )
        ).alias("_s"),
    ).select("_full", F.col("_s._pd").alias("_pd"), F.col("_s._pk").alias("_pk"))
    choice = (
        fp.join(pc, ["_pd", "_pk"])
        .groupBy("_full")
        .agg(
            F.min(
                F.when(F.col("_pc") <= max_bucket, F.col("_pd"))
            ).alias("_cd")
        )
        .withColumn("_cd", F.coalesce("_cd", F.lit(n_bits)))
        .join(counts, "_full")
        .select(
            "_full",
            F.expr("substring(_full, 1, _cd)").alias(key_col),
            F.col("_c").alias("_fullc"),
        )
    )
    # materialize the SMALL signature->key map EAGERLY: the keyed frame
    # is referenced up to 4x downstream (small/big union x both sides of
    # a consumer's self-join), and a lazy checkpoint is not a barrier —
    # the branches race to compute the un-persisted lineage and the
    # count/choice aggregation runs per branch (measured: lazy 5.1 s
    # noisy vs eager 3.5 s tight on knn_graph_lsh_capped at sf0.1). The
    # costs of eager — a plan-construction job and one pinned TINY frame
    # per call — are the lesser evil; callers doing plan-only inspection
    # pay one small aggregation job.
    choice = choice.localCheckpoint(eager=True)
    keyed = base.join(choice, "_full")
    # the depth fallback fires exactly when the FULL-signature pile
    # exceeds the cap (depth n always qualifies otherwise) — shard those
    # piles into deterministic md5-ordered cells; everyone else skips the
    # window entirely.
    from pyspark.sql import Window

    small = keyed.filter(F.col("_fullc") <= max_bucket).select(
        *df.columns, key_col
    )
    w = Window.partitionBy("_full").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    big = (
        keyed.filter(F.col("_fullc") > max_bucket)
        .withColumn(
            "_cell",
            F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(max_bucket)),
        )
        .withColumn(
            key_col, F.concat_ws(":", F.col(key_col), F.col("_cell"))
        )
        .select(*df.columns, key_col)
    )
    return small.unionByName(big)


def _grouped_map_sorted(keyed, key_col, group_fn, schema, out_cols):
    """Run ``group_fn`` (a pandas-DataFrame -> pandas-DataFrame kernel)
    once per ``key_col`` group with ONE Python invocation per PARTITION
    instead of ``groupBy().applyInPandas``'s one per group (round 14,
    guide §4.5/§4.2): with cap-bounded groups the per-group Arrow batch
    + dispatch dominates the microsecond kernels. Hash-partitioning by
    the key and sorting within partitions makes groups contiguous, so a
    single `mapInPandas` pass slices them out locally — identical rows
    (the kernel is untouched; only the dispatch changes), one Arrow
    exchange either way. Groups can span Arrow batch boundaries within
    a partition; the trailing (possibly incomplete) key group of every
    batch is carried into the next. Each group reaches ``group_fn`` with
    a fresh 0..n-1 index, as ``applyInPandas`` hands it over, so a kernel
    may use ``.loc[0]``."""
    rep = keyed.repartition(F.col(key_col)).sortWithinPartitions(key_col)

    def _stream(batches):
        import numpy as np  # local: runs on executors
        import pandas as pd

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            n = len(pdf)
            if n == 0:
                continue
            keys = pdf[key_col].to_numpy()
            n_tail = int((keys == keys[-1]).sum())
            carry = pdf.iloc[n - n_tail :]
            body = pdf.iloc[: n - n_tail]
            if not len(body):
                continue
            bkeys = keys[: n - n_tail]
            starts = np.flatnonzero(np.r_[True, bkeys[1:] != bkeys[:-1]])
            bounds = np.r_[starts, len(body)]
            outs = []
            for i in range(len(starts)):
                res = group_fn(
                    body.iloc[bounds[i] : bounds[i + 1]].reset_index(drop=True)
                )
                if len(res):
                    outs.append(res)
            if outs:
                yield pd.concat(outs, ignore_index=True)
        if carry is not None and len(carry):
            res = group_fn(carry.reset_index(drop=True))
            if len(res):
                yield res

    return rep.mapInPandas(_stream, schema).select(*out_cols)


def _bucket_gemm_topk(
    keyed: DataFrame,
    k: int,
    *,
    vector_col: str,
    id_col: str,
    metric: str,
    key_col: str = "_key",
) -> DataFrame:
    """Per-bucket exact top-k via one Arrow ``applyInPandas`` GEMM per
    cap-bounded key group. Mirrors the relational scorer: float64 cast,
    zero-norm cosine = 0.0, euclidean as the norm of the actual
    DIFFERENCE vectors (NOT the a^2+b^2-2ab Gram identity — its
    catastrophic cancellation near zero distance yields e.g. 1e-6
    instead of 0.0 for near-identical non-unit-norm vectors, breaking
    expr-parity exactly in the near-duplicate regime), scores rounded to
    6dp BEFORE ranking, (score order, id asc) ties — so `impl='gemm'`
    and `impl='expr'` return identical rows on unique-id input (ids are
    assumed unique, the corpus's primary-key contract; under duplicated
    ids the two impls window candidates differently). Groups arrive
    cap-bounded from `adaptive_lsh_keys`, so the m x m score matrix is
    O(cap^2)."""
    import numpy as np
    import pandas as pd

    id_type = dict(keyed.dtypes)[id_col]
    schema = (
        f"query_id {id_type}, {id_col} {id_type}, score double, rank int"
    )
    cosine = metric == "cosine"
    out_cols = ["query_id", id_col, "score", "rank"]

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"query_id": [], id_col: [], "score": [], "rank": []}
            )
        ids = pdf[id_col].to_numpy()
        M = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vector_col]]
        )
        if cosine:
            n = np.linalg.norm(M, axis=1)
            safe = np.where(n == 0.0, 1.0, n)
            Z = M / safe[:, None]
            S = Z @ Z.T
            S[n == 0.0, :] = 0.0
            S[:, n == 0.0] = 0.0
        else:
            # difference-vector norms, row at a time: same arithmetic as
            # the expr path's sqrt(sum((x-y)^2)); groups are cap-bounded
            # so the O(m^2 d) broadcast stays small
            S = np.empty((m, m), dtype=np.float64)
            for i in range(m):
                diff = M - M[i]
                S[i] = np.sqrt((diff * diff).sum(axis=1))
        S = np.round(S, 6)
        qs, cs, ss, rs = [], [], [], []
        for i in range(m):
            row = S[i]
            keys = -row if cosine else row
            order = np.lexsort((ids, keys))
            # exclude the query row itself (ids are unique by contract)
            order = order[ids[order] != ids[i]][:k]
            nn = len(order)
            qs.append(np.full(nn, ids[i]))
            cs.append(ids[order])
            ss.append(row[order])
            rs.append(np.arange(1, nn + 1))
        return pd.DataFrame(
            {
                "query_id": np.concatenate(qs),
                id_col: np.concatenate(cs),
                "score": np.concatenate(ss),
                "rank": np.concatenate(rs).astype(np.int32),
            }
        )

    # dispatch via the partition-batched grouped runner (round 14): the
    # `_score` kernel, its rounding and tie-breaks are untouched — only
    # the per-bucket Python dispatch collapses to one call per partition
    return _grouped_map_sorted(keyed, key_col, _score, schema, out_cols)


def knn_graph_lsh(
    df: DataFrame,
    planes: Sequence[Sequence[float]],
    k: int = 5,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
    multiprobe: bool = False,
    max_bucket: int | None = None,
    min_depth: int = 4,
    impl: str = "expr",
) -> DataFrame:
    """Approximate kNN graph: candidates come from sign-LSH buckets, so
    total pair work is sum_b m_b^2 (bounded by bucket size) instead of
    `knn_graph`'s |V|^2 — the scale path the exact graph's docstring
    points at (measured: exact graph 58x slower on 10x rows; this stays
    near-linear while buckets stay bounded).

    ``max_bucket`` guards the "while buckets stay bounded" premise
    against dense DATA: a tight cluster overfills its bucket no matter
    how good the planes are, and sum m_b^2 grows with the square of that
    pile. With the cap, rows pair on `adaptive_lsh_keys` prefixes
    instead: dense buckets split onto more plane bits, sparse regions
    keep short recall-friendly prefixes. The cap can NOT rescue a
    degenerate PLANE set — near-parallel planes give most rows the
    IDENTICAL full signature (observed: using the x10 corpus's first 8
    vectors, pairwise cosine >= 0.994, as planes put 96% of rows into 2
    signatures and grew sum m_b^2 8300x), and identical signatures have
    no deeper bits to split on — those piles fall to the salt-cell shard
    in `adaptive_lsh_keys`, which bounds the worst case at
    |V| * max_bucket pair evaluations. Plane quality is still the
    caller's knob (`random_hyperplanes`); the cap is the density bound.
    Incompatible with ``multiprobe`` (bit flips are defined on the
    fixed-depth code).

    ``impl`` picks the capped path's scorer: ``"expr"`` (default) stays
    entirely JVM-side relational; ``"gemm"`` runs one Arrow
    ``applyInPandas`` GEMM per bucket (safe — groups are cap-bounded),
    which trades plan purity for ~2 orders of magnitude more pair
    throughput (the higher-order-function cosine evaluates ~40k pairs/s
    per machine; BLAS does millions). Identical output either way:
    scores rounded to 6dp BEFORE ranking, ties broken by id ascending.

    The fixed-depth path is entirely JVM-side relational: bucket
    projection (plane matrix is a plan literal, no shuffle) -> ONE
    equi-self-join on the bucket key -> inline cosine/euclidean in
    whole-stage codegen -> per-query rank window. No Python in the path;
    Catalyst/AQE size the bucket shuffle.

    ``multiprobe`` also probes every Hamming-1 bucket of each query row
    (planes+1 probe keys per row), recovering neighbors that fall just
    across one hyperplane — recall knob without re-indexing. Probe keys
    are distinct per query row and each candidate has ONE bucket, so no
    pair is generated twice (no dedup shuffle needed).

    ANN semantics: a row alone in its probe set yields no edges; rows may
    get fewer than k neighbors. Same output shape as `knn_graph`
    (query_id, id, score, rank) so triangle/2-hop consumers swap in
    directly.
    """
    if impl not in ("expr", "gemm"):
        raise ValueError(f"impl must be 'expr' or 'gemm', got {impl!r}")

    if max_bucket is not None:
        if multiprobe:
            raise ValueError(
                "max_bucket and multiprobe are mutually exclusive: "
                "Hamming-1 probes are defined on the fixed-depth code"
            )
        keyed = adaptive_lsh_keys(
            df.select(id_col, vector_col),
            planes,
            max_bucket,
            vector_col=vector_col,
            id_col=id_col,
            min_depth=min_depth,
        )
        if impl == "gemm":
            return _bucket_gemm_topk(
                keyed,
                k,
                vector_col=vector_col,
                id_col=id_col,
                metric=metric,
            )
        q = keyed.select(
            F.col(id_col).alias("query_id"),
            F.col(vector_col).cast("array<double>").alias("_qv"),
            F.col("_key").alias("_probe"),
        )
        c = keyed.select(
            F.col(id_col),
            F.col(vector_col).cast("array<double>").alias("_cv"),
            F.col("_key").alias("_bucket"),
        )
        return _probe_join_rank_topk(q, c, k, metric, id_col)

    if impl == "gemm":
        raise ValueError(
            "impl='gemm' requires max_bucket: per-bucket GEMM matrices "
            "are only memory-safe when groups are cap-bounded"
        )
    bucket = lsh_bucket(F.col(vector_col), planes)
    if multiprobe:
        n_bits = len(planes)
        # the row's own bucket + each Hamming-1 flip, as ONE array column
        probes = F.array(
            bucket,
            *[
                F.concat(
                    F.substring(bucket, 1, i),
                    F.when(
                        F.substring(bucket, i + 1, 1) == "1", F.lit("0")
                    ).otherwise(F.lit("1")),
                    F.substring(bucket, i + 2, n_bits - i - 1),
                )
                for i in range(n_bits)
            ],
        )
    else:
        probes = F.array(bucket)
    q = df.select(
        F.col(id_col).alias("query_id"),
        F.col(vector_col).cast("array<double>").alias("_qv"),
        F.explode(probes).alias("_probe"),
    )
    c = df.select(
        F.col(id_col),
        F.col(vector_col).cast("array<double>").alias("_cv"),
        lsh_bucket(F.col(vector_col), planes).alias("_bucket"),
    )
    return _probe_join_rank_topk(q, c, k, metric, id_col)


def _probe_join_rank_topk(
    q: DataFrame, c: DataFrame, k: int, metric: str, id_col: str
) -> DataFrame:
    """Shared relational tail of both `knn_graph_lsh` paths: probe-key
    equi-join (`_probe` == `_bucket` over `_qv`/`_cv` float64 vectors),
    inline score rounded to 6dp, per-query rank window, <= k.

    Cosine norms are precomputed PER ROW below the join (round 14, guide
    §1.2 step 2): `cosine_similarity` inlined per pair evaluates three
    interpreted higher-order-function array passes (dot + both norms) for
    every one of the sum_b m_b^2 candidate pairs, but a row's norm is
    join-invariant — hoisting `l2_norm` into the q/c projections leaves
    ONE array pass per pair. The score expression is arithmetic-identical
    (same sqrt(aggregate(zip_with)) evaluated on the same array, same
    zero-norm guard, same division order), so results are bit-equal; the
    shuffle carries one extra float64 per row."""
    from pyspark.sql import Window

    from distributed_vector_database_spark.functions.vector import (
        dot,
        euclidean_distance,
        l2_norm,
        round_score,
    )
    from distributed_vector_database_spark.operators.topk import _order

    if metric == "cosine":
        q = q.withColumn("_qn", l2_norm("_qv"))
        c = c.withColumn("_cn", l2_norm("_cv"))
        score = F.when(
            (F.col("_qn") == 0.0) | (F.col("_cn") == 0.0), F.lit(0.0)
        ).otherwise(dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn")))
    else:
        score = euclidean_distance("_qv", "_cv")
    pairs = (
        q.join(c, q["_probe"] == c["_bucket"])
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col, round_score(score).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        *_order(metric, F.col("score"), F.col(id_col))
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )
