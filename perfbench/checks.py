"""Output checks. Each returns ``None`` when the answer is right and a short
message when it is wrong; the caller counts a wrong answer as a failed
operation. Ground truth is computed here with numpy, independently of the
program, and never inside a timed region.

Scores follow the engine's documented contract: cosine in float64, rounded
to 6 decimals, ordered by (score DESC, id ASC).
"""

from __future__ import annotations

import hashlib

import numpy as np


def exact_topk(corpus: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int):
    """Exact cosine top-k ids per query row, shape (len(queries), k)."""
    c = corpus.astype(np.float64)
    q = np.atleast_2d(queries).astype(np.float64)
    cn = np.linalg.norm(c, axis=1)
    qn = np.linalg.norm(q, axis=1)
    s = (q @ c.T) / np.maximum(qn[:, None] * cn[None, :], 1e-300)
    s = np.round(s, 6)
    out = np.empty((len(q), min(k, len(c))), dtype=np.int64)
    for i in range(len(q)):
        order = np.lexsort((ids, -s[i]))[:k]
        out[i] = ids[order]
    return out


def recall(got_ids, truth_ids) -> float:
    truth = set(int(x) for x in truth_ids)
    return len(truth.intersection(int(x) for x in got_ids)) / max(1, len(truth))


def check_ranked(rows, k: int, score_key: str = "score") -> str | None:
    """``k`` rows, scores never increasing down the list."""
    if len(rows) != k:
        return f"expected {k} rows, got {len(rows)}"
    scores = [r[score_key] for r in rows]
    if any(a < b for a, b in zip(scores, scores[1:])):
        return f"scores not in descending order: {scores}"
    return None


def check_self_match(rows, expect_id: int, id_key: str = "vec_id") -> str | None:
    """A query equal to a stored vector must rank that vector first with
    score exactly 1.0."""
    if not rows:
        return f"self-match for id {expect_id}: empty result"
    top = rows[0]
    if int(top[id_key]) != int(expect_id) or float(top["score"]) != 1.0:
        return (
            f"self-match for id {expect_id}: top-1 is "
            f"({top[id_key]}, {top['score']})"
        )
    return None


def check_old_version_gone(rows, moved_id: int, id_key: str = "vec_id") -> str | None:
    """After an upsert moved ``moved_id`` to a new vector, a query with its
    OLD vector must not find it at score 1.0 (the old row is deleted)."""
    for r in rows:
        if int(r[id_key]) == int(moved_id) and float(r["score"]) >= 1.0:
            return f"old version of id {moved_id} still served at score 1.0"
    return None


def check_live_corpus(
    rows_id, rows_gen, rows_vec, del_id, del_gen, expected: np.ndarray
) -> str | None:
    """The live rows of an IVF-PQ layout are exactly the expected corpus.

    A stored row (id, gen) is live unless a delete entry (id, dgen) with
    dgen >= gen exists — the generation/tombstone rule of
    ``IVFPQIndex.delete_ids``. Checks count, duplicates and vectors.
    """
    rows_id = np.asarray(rows_id, dtype=np.int64)
    rows_gen = np.asarray(rows_gen, dtype=np.int64)
    dmax: dict[int, int] = {}
    for i, g in zip(np.asarray(del_id, dtype=np.int64), np.asarray(del_gen)):
        dmax[int(i)] = max(int(g), dmax.get(int(i), -1))
    live = np.array(
        [g > dmax.get(int(i), -1) for i, g in zip(rows_id, rows_gen)], dtype=bool
    )
    live_ids = rows_id[live]
    n = len(expected)
    dups = len(live_ids) - len(np.unique(live_ids))
    if dups:
        return f"{dups} duplicate live ids"
    if len(live_ids) != n:
        return f"live row count {len(live_ids)} != corpus size {n}"
    if live_ids.min() < 0 or live_ids.max() >= n:
        return "live ids outside the corpus id range"
    vecs = np.asarray([rows_vec[j] for j in np.flatnonzero(live)], dtype=np.float32)
    bad = np.flatnonzero(~np.all(vecs == expected[live_ids], axis=1))
    if len(bad):
        return f"{len(bad)} live ids hold a stale vector (e.g. id {live_ids[bad[0]]})"
    return None


# ---- registry oracle comparison -------------------------------------------


def _cell(v) -> str:
    """Type-tagged cell text with floats rounded to 6 decimals — the
    normalisation the repository's oracle rehearsal uses, so an int/float
    coercion counts as a difference."""
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "null" if f != f else f"f:{round(f, 6) + 0.0}"
    if isinstance(v, (np.integer, int)):
        return f"i:{int(v)}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "a:[" + ",".join(_cell(x) for x in v) + "]"
    if v != v:  # NaT
        return "null"
    return f"{type(v).__name__}:{v!r}"


def frame_digest(pdf) -> tuple[tuple[str, ...], int, str]:
    """(lower-cased columns, row count, order-insensitive sha256)."""
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return tuple(c.lower() for c in pdf.columns), len(rows), h


def check_oracle(got_pdf, expected_pdf) -> str | None:
    g_cols, g_n, g_h = frame_digest(got_pdf)
    e_cols, e_n, e_h = frame_digest(expected_pdf)
    if g_cols != e_cols:
        return f"columns {g_cols} != oracle {e_cols}"
    if g_n != e_n:
        return f"row count {g_n} != oracle {e_n}"
    if g_h != e_h:
        return "values differ from the oracle"
    return None
