"""IVF (inverted-file) index: centroid fit, shard assignment, pruned search.

Reference semantics:
  - KMeans centroids, one per shard, fit on a sample
    (`reference: src/cluster.py:28-33`, sample at `src/test.py:41-42`).
  - Every vector routed to the shard whose centroid is nearest by Euclidean
    distance (`reference: src/compute_server.py:41-49`, store at :84).
  - Search probes only the ``nprobe`` nearest shards
    (`reference: src/compute_server.py:110,114`), brute-force cosine inside,
    global merge+truncate (:137-138).
  - Centroids replaceable wholesale (`reference: src/compute_server.py:67-71`,
    POST /set_centroids).

Spark-first design:
  - Centroids are a tiny driver-side list (num_shards × dim floats) — the
    same in-memory footprint the reference keeps (`src/compute_server.py:23-26`).
    They enter plans as broadcast literals, never as a shuffle side.
  - Shard assignment is a broadcast nearest-neighbor argmin join expressed
    with ``zip_with``/``aggregate`` + ``array_position(array_min(...))`` —
    pure JVM expressions, no Python, no window shuffle.
  - The index layout is parquet ``partitionBy("shard_id")``; probing nprobe
    shards is then ``filter(shard_id IN (...))`` which Catalyst turns into
    PARTITION PRUNING — only the probed directories are even listed. This is
    the exact Spark-native analogue of "only query n storage nodes"
    (SURVEY.md §4).
  - At 100 TB: assignment is a narrow map over the corpus (centroid table is
    broadcast); the partitioned write shuffles once by shard_id; every später
    search touches only nprobe/num_shards of the data.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from distributed_vector_database_spark.functions.vector import (
    squared_euclidean,
    vector_literal,
)
from distributed_vector_database_spark.operators.topk import topk

__all__ = [
    "IVFIndex",
    "assign_shards",
    "nearest_shards",
    "fit_centroids",
    "random_centroids",
    "shard_split_plan",
    "split_hot_shards",
]


def random_centroids(
    num_shards: int, dim: int, seed: int = 42
) -> list[list[float]]:
    """Seeded standard-normal placeholder centroids.

    The reference boots every shard with ``np.random.randn(EMBED_DIM)``
    until /set_centroids replaces them (`reference:
    src/compute_server.py:23-26`, `README.md:60`); this is that
    placeholder, made deterministic so tests can pin routing.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[float(x) for x in rng.standard_normal(dim)] for _ in range(num_shards)]


def _dists_expr(vector_col, centroids: Sequence[Sequence[float]]) -> F.Column:
    """array of squared distances vector→each centroid (JVM-side transform
    over the centroid matrix as one array<array<double>> literal)."""
    return F.transform(
        vector_literal(centroids), lambda c: squared_euclidean(vector_col, c)
    )


def assign_shards(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    *,
    vector_col: str = "embedding",
    out_col: str = "shard_id",
) -> DataFrame:
    """Add ``shard_id`` = argmin over centroids of Euclidean distance.

    The routing rule of `reference: src/compute_server.py:41-49` (store path
    :84). Ties broken by LOWEST shard id, matching the reference's
    ``sort`` stability over ascending shard iteration order.

    Implemented as literal-array transform + array_position(min): a narrow,
    whole-stage-codegen-friendly projection — no join, no shuffle.
    """
    dists = _dists_expr(F.col(vector_col), centroids)
    # array_position returns the FIRST index (1-based) of the min -> lowest
    # shard wins ties.
    shard = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return df.withColumn(out_col, shard)


def nearest_shards(
    query_vector: Sequence[float],
    centroids: Sequence[Sequence[float]],
    nprobe: int = 1,
) -> list[int]:
    """The nprobe shard ids nearest to the query (driver-side, O(num_shards)).

    `reference: src/compute_server.py:41-49` — ascending Euclidean distance,
    ties by lower shard id (Python sort stability).
    """
    q = [float(x) for x in query_vector]
    dists = [
        (math.sqrt(sum((a - float(b)) ** 2 for a, b in zip(q, c))), sid)
        for sid, c in enumerate(centroids)
    ]
    dists.sort()
    return [sid for _, sid in dists[: max(1, nprobe)]]


def _read_json_sidecar(dir_path: str, spark=None) -> list[dict]:
    """Read a tiny ``coalesce(1).write.json`` sidecar dir (``_centroids``
    / ``_recall_curve``) as a list of dicts WITHOUT a Spark job — no
    hidden-path-filter warning (VERDICT r11 item 3), zero jobs before a
    cold load's first pruned scan. Local dirs go through plain
    ``os``/``open``; anything else (``hdfs://``, ``s3a://``, ``file:``
    URIs — ADVICE r12: write/save persist via Spark to any Hadoop FS, so
    load must read them back from the same FS) goes through the Hadoop
    FileSystem API driver-side. Missing or empty dir -> []."""
    import json
    import os

    rows: list[dict] = []
    if os.path.isdir(dir_path):
        for name in sorted(os.listdir(dir_path)):
            if not name.startswith("part-"):
                continue
            with open(os.path.join(dir_path, name)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        rows.append(json.loads(line))
        return rows
    if spark is None:
        return []
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(dir_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return []
    parts = sorted(
        (st.getPath() for st in fs.listStatus(p)),
        key=lambda hp: hp.getName(),
    )
    for hp in parts:
        if not hp.getName().startswith("part-"):
            continue
        stream = fs.open(hp)
        try:
            txt = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        for line in txt.splitlines():
            line = line.strip()
            if line:
                rows.append(json.loads(line))
    return rows


def pick_nprobe(recall_curve, target_recall: float) -> int:
    """Smallest measured nprobe whose mean recall meets ``target_recall``
    — the reference's hand-set ``shards_to_search`` knob
    (`reference: src/compute_server.py:60-63`) chosen by evidence
    instead: feed it `eval.ivf_recall_curve_df`'s output (or
    `eval.ivf_recall_curve`'s list of dicts) and the curve decides.

    If no measured point reaches the target, returns the LARGEST
    measured nprobe — the closest the curve can get; callers that need
    exactness probe all shards (``nprobe = num_shards`` ≡ brute force).

    Driver-side over a len(nprobes)-row frame — bounded by construction.
    """
    if not 0.0 <= float(target_recall) <= 1.0:
        raise ValueError(
            f"target_recall must be in [0, 1], got {target_recall!r}"
        )
    if isinstance(recall_curve, DataFrame):
        rows = recall_curve.select("nprobe", "mean_recall").collect()
        points = [(int(r["nprobe"]), float(r["mean_recall"])) for r in rows]
    else:
        points = [
            (int(r["nprobe"]), float(r["mean_recall"])) for r in recall_curve
        ]
    if not points:
        raise ValueError("recall_curve has no measured points")
    meeting = [np_ for np_, rec in points if rec >= float(target_recall)]
    return min(meeting) if meeting else max(np_ for np_, _ in points)


def fit_centroids(
    df: DataFrame,
    num_shards: int,
    *,
    vector_col: str = "embedding",
    sample_fraction: float = 0.1,
    seed: int = 42,
    max_iter: int = 20,
) -> list[list[float]]:
    """Fit KMeans centroids on a sample of the corpus (MLlib).

    Mirrors `reference: src/cluster.py:28-33` (sklearn KMeans, seed 42) and
    the 10% sample of `reference: src/test.py:41-42`. MLlib != sklearn
    numerically, so centroids are never oracle-compared — only downstream
    invariants are (SURVEY.md §7.3). VectorUDT stays internal to this
    function; the public surface is plain ``list[list[float]]``.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = df.select(vector_col)
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    va = sample.select(array_to_vector(F.col(vector_col)).alias("features"))
    model = KMeans(k=num_shards, seed=seed, maxIter=max_iter).fit(va)
    return [list(map(float, c)) for c in model.clusterCenters()]


class IVFIndex:
    """An IVF-sharded vector index over a parquet layout.

    Lifecycle mirrors the reference driver program
    (`reference: src/test.py:132-145`): fit centroids → set_centroids →
    bulk store → search. Plus Spark-only: persisted partitioned layout and
    ``describe()`` metadata (`reference: GET /`, src/compute_server.py:74-79).
    """

    def __init__(
        self,
        spark: SparkSession,
        centroids: Sequence[Sequence[float]],
        *,
        path: str | None = None,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
    ):
        self.spark = spark
        self.centroids = [list(map(float, c)) for c in centroids]
        self.path = path
        self.vector_col = vector_col
        self.id_col = id_col
        self._df: DataFrame | None = None
        # pinned schema of the persisted layout, so a search reads it with
        # spark.read.schema(...) instead of a footer-inference job each time
        self._schema: StructType | None = None
        # measured recall-vs-nprobe curve (list of {nprobe, mean_recall,
        # n_queries, k} dicts) — the persisted tuning artifact autotuned
        # search reads (VERDICT r10 item 5). None until `tune()` runs or
        # `load()` finds one on disk.
        self.recall_curve: list[dict] | None = None

    # ---- build ------------------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        num_shards: int,
        *,
        path: str | None = None,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        sample_fraction: float = 0.1,
        seed: int = 42,
    ) -> "IVFIndex":
        """Fit centroids and index ``df`` in one shot."""
        cents = fit_centroids(
            df,
            num_shards,
            vector_col=vector_col,
            sample_fraction=sample_fraction,
            seed=seed,
        )
        idx = cls(
            df.sparkSession, cents, path=path, vector_col=vector_col, id_col=id_col
        )
        idx.write(df)
        return idx

    def set_centroids(self, centroids: Sequence[Sequence[float]]) -> None:
        """Replace the centroid map (`reference: POST /set_centroids`,
        src/compute_server.py:67-71). Existing partitioned data is NOT
        rewritten (same as the reference — which is how its duplicate-id
        quirk arises, SURVEY.md §1.3); call ``write`` again to re-shard.

        Invalidates any measured recall curve: the curve was measured
        against the OLD routing table, so autotuning from it under new
        centroids would be evidence about a different index. The next
        ``save_centroids()`` (e.g. via ``write``) also removes the
        persisted ``_recall_curve`` so a later ``load`` cannot resurrect
        the stale artifact.
        """
        self.centroids = [list(map(float, c)) for c in centroids]
        self.recall_curve = None

    def assign(self, df: DataFrame) -> DataFrame:
        return assign_shards(
            df, self.centroids, vector_col=self.vector_col, out_col="shard_id"
        )

    def attach(self, df: DataFrame) -> "IVFIndex":
        """Attach an unmaterialized assigned view of ``df`` (no cache, no
        write): search paths then run against ``assign(df)`` lazily. For
        one-shot queries where building a persisted layout isn't warranted;
        probing degrades from directory pruning to a post-scan filter.

        Invalidates any measured recall curve — the curve is evidence
        about (centroids, corpus), and attach rebinds the corpus."""
        self._df = self.assign(df)
        self.recall_curve = None
        return self

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        """Assign shards and persist partitioned by shard_id.

        One shuffle (repartition by shard_id so each shard is a small number
        of whole files, not num_input_partitions fragments), then a parquet
        write whose directory layout IS the inverted file.

        Invalidates any measured recall curve (ADVICE r11): the curve is
        evidence about (centroids, corpus), and a write — overwrite OR
        append — changes the corpus the index holds, so a curve measured
        before it would autotune nprobe against data the index no longer
        matches. ``save_centroids`` below then also removes the persisted
        ``_recall_curve`` so a later ``load`` cannot resurrect it; re-run
        ``tune()`` after the write to restore autotuned serving.

        An overwrite pins the layout schema from the frame it writes, so
        the searches that follow read without schema inference; an
        append un-pins it and the next read infers it once (see ``df``).
        """
        self.recall_curve = None
        assigned = self.assign(df)
        self._schema = None
        if self.path is None:
            # in-memory index: cache the assigned frame
            self._df = assigned.repartition("shard_id").cache()
            self._df.count()  # materialize
            return
        (
            assigned.repartition("shard_id")
            .write.mode(mode)
            .partitionBy("shard_id")
            .parquet(self.path)
        )
        self.save_centroids()
        self._df = None
        if mode == "overwrite":
            # the layout now holds exactly this frame: its columns, nullable
            # as parquet reads them, with the partition column last
            self._schema = StructType(
                [
                    StructField(f.name, f.dataType, True, f.metadata)
                    for f in assigned.schema.fields
                    if f.name != "shard_id"
                ]
                + [StructField("shard_id", IntegerType(), True)]
            )

    # ---- persistence ------------------------------------------------------

    def save_centroids(self) -> None:
        """Persist the centroid table INSIDE the index layout (under a
        ``_``-prefixed subdir, which parquet readers treat as hidden — like
        ``_SUCCESS``). The reference keeps centroids only in router memory
        (`reference: src/compute_server.py:23-26`) and loses them on
        restart; a persisted index must carry its own routing table."""
        if self.path is None:
            raise ValueError("in-memory index: no path to save centroids to")
        cent = self.spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.centroids)],
            "shard_id int, centroid array<double>",
        )
        cent.coalesce(1).write.mode("overwrite").json(
            f"{self.path}/_centroids"
        )
        # keep the persisted tuning artifact in sync with the instance:
        # a live curve rides along; an invalidated one (set_centroids)
        # is removed so load() cannot resurrect stale evidence
        curve_dir = f"{self.path}/_recall_curve"
        if self.recall_curve is not None:
            self._write_recall_curve()
        else:
            # Hadoop-FS delete, not shutil (ADVICE r12): the index root
            # may be hdfs://, s3a://, or a file: URI — rmtree there was
            # a silent no-op, resurrecting a stale curve on load().
            # fs.delete is recursive and a no-op when absent; works for
            # plain local paths too (LocalFileSystem).
            jvm = self.spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(curve_dir)
            fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
            fs.delete(p, True)

    def _write_recall_curve(self) -> None:
        """Persist the measured curve next to the centroids (same hidden
        ``_``-dir convention). The reference's ``shards_to_search`` knob
        (`reference: src/compute_server.py:60-63`) becomes a durable,
        evidence-backed index property instead of a per-session
        recomputation (VERDICT r10 item 5)."""
        if self.path is None:
            raise ValueError("in-memory index: no path to save curve to")
        if not self.recall_curve:
            raise ValueError("no measured recall curve to persist")
        rows = [
            (
                int(p["nprobe"]),
                float(p["mean_recall"]),
                int(p.get("n_queries", 0)),
                int(p.get("k", 0)),
            )
            for p in self.recall_curve
        ]
        frame = self.spark.createDataFrame(
            rows,
            "nprobe int, mean_recall double, n_queries int, k int",
        )
        frame.coalesce(1).write.mode("overwrite").json(
            f"{self.path}/_recall_curve"
        )

    def tune(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobes: tuple[int, ...] = (1, 2, 4, 8),
        *,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vector",
    ) -> list[dict]:
        """Measure the recall-vs-nprobe curve over ``queries`` and attach
        it to the index (persisting it when the index has a path).
        Tuning-time cost: len(nprobes)+1 batched search jobs
        (`eval.ivf_recall_curve_df`); serving afterwards reads the stored
        curve driver-side — zero extra jobs per query."""
        from distributed_vector_database_spark.operators.eval import (
            ivf_recall_curve_df,
        )

        rows = ivf_recall_curve_df(
            self,
            queries,
            k,
            nprobes,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        ).collect()
        self.recall_curve = [
            {
                "nprobe": int(r["nprobe"]),
                "mean_recall": float(r["mean_recall"]),
                "n_queries": int(r["n_queries"]),
                "k": int(k),
            }
            for r in rows
        ]
        if self.path is not None:
            self._write_recall_curve()
        return self.recall_curve

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        *,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> "IVFIndex":
        """Open a persisted index: data layout + its saved centroid table.

        The sidecars (``_centroids``, ``_recall_curve``) are read
        driver-side without a Spark job: they are a handful of JSON
        lines, and handing the ``_``-prefixed dirs to ``spark.read``
        trips DataSource's hidden-path filter into a spurious "All paths
        were ignored" warning on every cold load (VERDICT r11 item 3).
        Local index roots read via plain ``open``; hdfs://, s3a://, and
        file: URIs via the Hadoop FileSystem API (ADVICE r12) — the same
        FS ``write``/``save_centroids`` persisted to. Either way: zero
        jobs before the first pruned scan."""
        cent_rows = _read_json_sidecar(f"{path}/_centroids", spark)
        if not cent_rows:
            raise ValueError(f"no centroids found under {path}/_centroids")
        cent_rows.sort(key=lambda r: int(r["shard_id"]))
        cents = [list(map(float, r["centroid"])) for r in cent_rows]
        idx = cls(
            spark, cents, path=path, vector_col=vector_col, id_col=id_col
        )
        # pick up the persisted tuning artifact when one rode along —
        # autotuned search on a loaded index then pays ZERO curve jobs
        curve_rows = _read_json_sidecar(f"{path}/_recall_curve", spark)
        if curve_rows:
            curve_rows.sort(key=lambda r: int(r["nprobe"]))
            idx.recall_curve = [
                {
                    "nprobe": int(r["nprobe"]),
                    "mean_recall": float(r["mean_recall"]),
                    "n_queries": int(r.get("n_queries") or 0),
                    "k": int(r.get("k") or 0),
                }
                for r in curve_rows
            ]
        return idx

    def compact(self) -> None:
        """Rewrite the layout into few whole files per shard.

        Streaming ingest (streaming/ingest.py) appends O(num_shards) files
        per micro-batch; over many batches the small-file count degrades
        scan planning. Compaction is one read + one partitioned rewrite via
        a staging directory (an in-place overwrite would read and clobber
        the same files)."""
        if self.path is None:
            raise ValueError("in-memory index has nothing to compact")
        spark = self.spark
        current = spark.read.parquet(self.path).drop("shard_id")
        staging = f"{self.path}__compacting"
        # compaction rewrites the SAME rows (content-identical corpus), so
        # a measured recall curve stays valid — shield it from write()'s
        # corpus-change invalidation (ADVICE r11) and re-persist it into
        # the compacted layout after the swap
        saved_curve = self.recall_curve
        saved_path, self.path = self.path, staging
        try:
            self.write(current)
        finally:
            self.path = saved_path
        self.recall_curve = saved_curve
        # swap staging into place
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        Path = jvm.org.apache.hadoop.fs.Path
        fs = Path(self.path).getFileSystem(hconf)
        fs.delete(Path(self.path), True)
        fs.rename(Path(staging), Path(self.path))
        if self.recall_curve is not None:
            self._write_recall_curve()

    # ---- read -------------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """The index rows. A persisted layout is re-listed on every access,
        so files appended after ``load()`` (streaming ingest,
        ``write(mode="append")``) are visible to the next search; its
        schema is inferred from the parquet footers only on the first
        access after ``load()`` or an append, then pinned, so later reads
        launch no schema-inference job."""
        if self._df is not None:
            return self._df
        if self.path is None:
            raise ValueError("index not built: call write() first")
        if self._schema is None:
            df = self.spark.read.parquet(self.path)
            self._schema = df.schema
            return df
        return self.spark.read.schema(self._schema).parquet(self.path)

    def num_shards(self) -> int:
        return len(self.centroids)

    def describe(self) -> DataFrame:
        """Per-shard row counts + centroid — the engine's answer to the
        reference's topology/health endpoints (`reference:
        src/compute_server.py:74-79`, `src/storage_server.py:72-81`)."""
        counts = self.df.groupBy("shard_id").agg(F.count("*").alias("num_vectors"))
        cent = self.spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.centroids)],
            "shard_id int, centroid array<double>",
        )
        return cent.join(counts, "shard_id", "left").fillna(0, ["num_vectors"])

    # ---- search -----------------------------------------------------------

    def probe(self, query_vector: Sequence[float], nprobe: int = 1) -> DataFrame:
        """The partition-pruned candidate scan for one query."""
        shards = nearest_shards(query_vector, self.centroids, nprobe)
        return self.df.filter(F.col("shard_id").isin(shards))

    def search(
        self,
        query_vector: Sequence[float],
        k: int = 5,
        nprobe: int = 1,
        metric: str = "cosine",
        *,
        target_recall: float | None = None,
        recall_curve=None,
    ) -> DataFrame:
        """IVF top-k: prune to nprobe shards, brute-force score, merge.

        `reference: POST /search` (src/compute_server.py:107-138) as one
        declarative job. With nprobe == num_shards this is EXACT search —
        the primary correctness invariant (SURVEY.md §5.3).

        Autotuned mode: pass ``target_recall`` and nprobe is chosen by
        :func:`pick_nprobe` from a measured curve — the evidence-driven
        form of the reference's hand-set ``shards_to_search``. The curve
        is, in order: the explicit ``recall_curve`` argument
        (`eval.ivf_recall_curve_df` output), else the index's own stored
        curve (``tune()`` result, persisted with the layout and restored
        by ``load()`` — so a reloaded index autotunes with zero curve
        jobs). No curve anywhere is an error, not a silent full probe.
        """
        if target_recall is not None:
            curve = (
                recall_curve
                if recall_curve is not None
                else self.recall_curve
            )
            if curve is None:
                raise ValueError(
                    "target_recall needs a measured recall_curve: pass "
                    "eval.ivf_recall_curve_df output, or tune() this "
                    "index (the curve persists with the layout)"
                )
            nprobe = pick_nprobe(curve, target_recall)
        return topk(
            self.probe(query_vector, nprobe),
            query_vector,
            k,
            vector_col=self.vector_col,
            id_col=self.id_col,
            metric=metric,
        )

    def search_batch(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 1,
        metric: str = "cosine",
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vector",
    ) -> DataFrame:
        """Batched IVF search: the union of probed shards over the whole
        query batch is scanned ONCE; per-(query,shard) probe masking happens
        INSIDE the Arrow per-partition top-k kernel (operators/topk.py), so
        the only shuffle is the final merge of <= num_partitions*k rows per
        query — never the |pruned|×|Q| cross product (a crossJoin + window
        over query_id would make each query's window partition the entire
        probed candidate set, the exact skew hazard topk.py documents).

        Scale note: per-query probing of disjoint partitions would launch
        |Q| jobs; amortizing into one scan of the union is the batch-mode
        plan (BASELINE.md: batching amortizes per-job overhead).
        """
        from distributed_vector_database_spark.operators.topk import batch_topk

        q_rows = queries.select(query_id_col, query_vec_col).collect()
        probe_map = {
            int(r[0]): nearest_shards(r[1], self.centroids, nprobe)
            for r in q_rows
        }
        union_shards = sorted({s for ss in probe_map.values() for s in ss})
        # ONE partition-pruned scan over the union of probed shards
        pruned = self.df.filter(F.col("shard_id").isin(union_shards))
        return batch_topk(
            pruned,
            queries,
            k,
            vector_col=self.vector_col,
            id_col=self.id_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            metric=metric,
            allowed_shards=probe_map,
        )

    def exact_search(self, query_vector: Sequence[float], k: int = 5) -> DataFrame:
        """Brute-force over all shards (nprobe = num_shards)."""
        return self.search(query_vector, k, nprobe=self.num_shards())


def shard_split_plan(
    assigned: DataFrame,
    *,
    cap: int,
    next_shard_id: int,
    vector_col: str = "embedding",
    shard_col: str = "shard_id",
) -> DataFrame:
    """Split plan for OVERFULL shards — the index-maintenance step the
    reference lacks (its shard count is fixed at boot,
    `reference: src/compute_server.py:23-26`; a hot cell just grows).

    A shard with more than ``cap`` members is split on the dimension with
    the widest value range, at the midpoint — a relational, deterministic
    2-way split (vs KMeans-based splitting, which is not cross-engine
    reproducible). All split arithmetic is EXACT: per-dim min/max in
    integer micros (no float aggregation), midpoint = (min+max)/2.0
    (exactly representable), tie-broken by lowest dimension.

    Returns one row per hot shard:
    ``(shard_id, n_vecs, split_dim (1-based), mid_mic, right_id)`` where
    ``right_id`` numbers from ``next_shard_id`` in shard order.

    Scale shape: member counts and per-dim min/max are partial-agg'd
    explodes over ONLY the hot shards (semi-join pushes the shard filter
    into the scan; on the partitioned layout it prunes to hot
    directories); the plan frame itself is hot-shard-sized and
    broadcastable. The single-partition window that numbers right ids
    runs over that tiny frame, never the corpus.
    """
    from pyspark.sql import Window

    v = F.col(vector_col).cast("array<double>")
    hot = (
        assigned.groupBy(shard_col)
        .agg(F.count("*").alias("n_vecs"))
        .filter(F.col("n_vecs") > cap)
    )
    ex = (
        assigned.join(F.broadcast(hot.select(shard_col)), shard_col, "left_semi")
        .select(F.col(shard_col), F.posexplode(v).alias("_p", "_x"))
        .select(
            shard_col,
            (F.col("_p") + 1).cast("int").alias("split_dim"),
            F.round(F.col("_x") * F.lit(1e6)).cast("long").alias("_mic"),
        )
    )
    ds = ex.groupBy(shard_col, "split_dim").agg(
        F.min("_mic").alias("_mn"), F.max("_mic").alias("_mx")
    )
    w = Window.partitionBy(shard_col).orderBy(
        F.desc(F.col("_mx") - F.col("_mn")), F.asc("split_dim")
    )
    sp = (
        ds.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            shard_col,
            "split_dim",
            ((F.col("_mn") + F.col("_mx")) / F.lit(2.0)).alias("mid_mic"),
        )
    )
    rid = (
        F.lit(next_shard_id)
        + F.row_number().over(Window.orderBy(shard_col))
        - 1
    ).cast("int")
    return (
        sp.join(hot, shard_col)
        .select(shard_col, "n_vecs", "split_dim", "mid_mic")
        .withColumn("right_id", rid)
    )


def split_hot_shards(
    assigned: DataFrame,
    plan: DataFrame,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    shard_col: str = "shard_id",
) -> DataFrame:
    """Apply a :func:`shard_split_plan`: members of a hot shard whose
    value at ``split_dim`` (in rounded micros) is <= ``mid_mic`` keep the
    old shard id; the rest move to ``right_id``. Cold-shard members pass
    through unchanged.

    ``(id, old_shard, new_shard)``. A broadcast join on shard_id plus a
    narrow projection — no corpus shuffle; rewriting the physical layout
    afterwards only touches the hot partitions (same incremental-rewrite
    story as `IVFPQIndex.rewrite`).
    """
    v = F.col(vector_col).cast("array<double>")
    mic = F.round(
        F.element_at(v, F.col("split_dim")) * F.lit(1e6)
    ).cast("long")
    new_shard = F.when(
        F.col("split_dim").isNull() | (mic <= F.col("mid_mic")),
        F.col(shard_col),
    ).otherwise(F.col("right_id"))
    return assigned.join(
        F.broadcast(plan.select(shard_col, "split_dim", "mid_mic", "right_id")),
        shard_col,
        "left",
    ).select(
        F.col(id_col),
        F.col(shard_col).cast("long").alias("old_shard"),
        new_shard.cast("long").alias("new_shard"),
    )
