"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from ``--seed``:
the same seed gives byte-identical inputs. The program only ever sees the
generated vectors, query sets, upsert batches and parquet tables.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Mixture:
    """A seeded Gaussian mixture of unit-normalised vectors.

    Component weights fall off as ``1 / (rank + 1) ** skew`` so clusters,
    and therefore IVF shards, are uneven. A sample is
    ``normalize(mean_c + spread * z / sqrt(dim))`` with ``z`` standard normal.
    """

    dim: int
    components: int
    spread: float
    skew: float
    means: np.ndarray
    weights: np.ndarray

    @classmethod
    def make(cls, rng, dim, components, spread, skew) -> "Mixture":
        means = rng.standard_normal((components, dim)) / np.sqrt(dim)
        w = 1.0 / np.arange(1, components + 1) ** skew
        return cls(dim, components, spread, skew, means, w / w.sum())

    def sample(self, rng, n: int) -> np.ndarray:
        comp = rng.choice(self.components, size=n, p=self.weights)
        x = self.means[comp] + self.spread * rng.standard_normal(
            (n, self.dim)
        ) / np.sqrt(self.dim)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        return x.astype(np.float32)

    def spec(self) -> dict:
        return {
            "dim": self.dim,
            "components": self.components,
            "spread": self.spread,
            "weight_skew": self.skew,
        }


def vectors_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    """(vec_id bigint, embedding array<float>) — the corpus schema."""
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32())
    )
    return pa.table({"vec_id": pa.array(ids, type=pa.int64()), "embedding": emb})


@dataclass
class VectorInputs:
    mixture: Mixture
    corpus: np.ndarray
    queries: np.ndarray
    # query row -> corpus id for queries that are copies of corpus vectors
    self_match: dict[int, int]


def vector_inputs(
    seed: int,
    *,
    corpus_seed: int,
    n: int,
    dim: int,
    components: int,
    spread: float,
    skew: float,
    n_queries: int,
    self_match_every: int,
) -> VectorInputs:
    """Corpus plus a query set from the same mixture; every
    ``self_match_every``-th query is an exact copy of a corpus vector.

    The mixture and the corpus come from ``corpus_seed``, a fixed part of a
    workload's definition like a benchmark dataset: the IVF layout the
    program builds (k-means on a sample, so shard sizes) then does not change
    from seed to seed. The queries and self-match picks come from ``seed``.
    """
    crng = np.random.default_rng([corpus_seed, dim, n])
    mix = Mixture.make(crng, dim, components, spread, skew)
    corpus = mix.sample(crng, n)
    rng = np.random.default_rng([seed, dim, n, 1])
    queries = mix.sample(rng, n_queries)
    self_match = {}
    for qi in range(0, n_queries, self_match_every):
        cid = int(rng.integers(n))
        queries[qi] = corpus[cid]
        self_match[qi] = cid
    return VectorInputs(mix, corpus, queries, self_match)


def upsert_batches(seed: int, mixture: Mixture, n: int, batch: int):
    """Endless stream of (ids, new_vectors): each batch moves ``batch``
    distinct existing ids to fresh vectors drawn from the mixture."""
    rng = np.random.default_rng([seed, 7])
    while True:
        ids = np.sort(rng.choice(n, size=batch, replace=False)).astype(np.int64)
        yield ids, mixture.sample(rng, batch)


# ---- registry tables -------------------------------------------------------
#
# The registry keys read ten tables (TPC-H-like star schema plus events,
# documents and embeddings). The generator reproduces the column set, types
# and value domains of the synthetic tables described in TESTDATA.md; row
# counts scale with ``sf`` as they do there (lineitem ~ 6M * sf).

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a the spark join hash row batch scan column customer filter small slow "
    "merge order vector line table data agg value key stream window part "
    "group big sort query fast"
).split()


def _dates(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    days = rng.integers(0, (end - start).days + 1, size=n)
    return np.datetime64(start, "us") + days.astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document with a marker appended
            src = texts[int(rng.integers(i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(_WORDS, size=int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(_LANGS, size=n, p=_LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.standard_normal((labels, dim)) * (0.14 / np.sqrt(dim))
    lab = rng.integers(0, labels, size=n)
    x = centers[lab] + rng.standard_normal((n, dim)) / np.sqrt(dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t = vectors_table(np.arange(n), x.astype(np.float32))
    return t.append_column("label", pa.array(lab, pa.int32()))


def registry_tables(seed: int, out_dir: str, sf: float) -> dict[str, str]:
    """Write the ten registry tables as one parquet file each; returns
    {table: path}."""
    rng = np.random.default_rng([seed, 11])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(10, int(15_000 * sf)), int(50_000 * sf)

    def choice(vals, n):
        return list(rng.choice(vals, size=n))

    cust = np.arange(n_cust)
    ev_gaps = rng.exponential(30 * 86400e6 / n_ev, size=n_ev)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(cust, pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in cust],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": choice(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        choice(_PART_ADJ, n_part), choice(_PART_NOUN, n_part)
                    )
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": choice(_PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _dates(
                    rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)
                ),
                "o_orderpriority": choice(_PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": choice(["A", "N", "R"], n_line),
                "l_linestatus": choice(["F", "O"], n_line),
                "l_shipdate": _dates(
                    rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": np.datetime64("2024-01-01T00:00:00", "us")
                + np.cumsum(ev_gaps).astype("timedelta64[us]"),
                "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
                "event_type": choice(_EVENT_TYPES, n_ev),
                "value": np.maximum(
                    np.round(rng.exponential(50.0, n_ev), 2), 0.01
                ),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_docs),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
