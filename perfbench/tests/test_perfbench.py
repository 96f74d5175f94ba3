"""Self-test of the benchmark.

    python -m pytest perfbench/tests -q

The check tests hand every output check a deliberately wrong answer and
expect it to fire. The end-to-end tests run each workload at a tiny size in
a fresh process and assert that every metric named in BENCHMARK.json is
emitted with its unit (about two minutes in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

CHECKOUT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, CHECKOUT)

from perfbench import checks, gen  # noqa: E402
from perfbench.probe import Probe  # noqa: E402


def _rows(pairs):
    return [{"vec_id": i, "score": s} for i, s in pairs]


# ---- every check fires on a wrong answer -----------------------------------


def test_self_match_check():
    assert checks.check_self_match(_rows([(7, 1.0), (3, 0.9)]), 7) is None
    assert checks.check_self_match(_rows([(3, 1.0), (7, 1.0)]), 7)
    assert checks.check_self_match(_rows([(7, 0.999999)]), 7)
    assert checks.check_self_match([], 7)


def test_ranked_check():
    assert checks.check_ranked(_rows([(1, 0.9), (2, 0.9), (3, 0.1)]), 3) is None
    assert checks.check_ranked(_rows([(1, 0.9), (2, 0.1)]), 3)
    assert checks.check_ranked(_rows([(1, 0.1), (2, 0.9), (3, 0.0)]), 3)


def test_old_version_check():
    assert checks.check_old_version_gone(_rows([(4, 0.7), (5, 0.6)]), 4) is None
    assert checks.check_old_version_gone(_rows([(4, 1.0)]), 4)


def test_exact_topk_and_recall():
    corpus = np.array([[1, 0], [0, 1], [1, 1], [2, 0]], dtype=np.float32)
    ids = np.arange(4)
    # ids 0 and 3 tie at cosine 1.0: the lower id ranks first
    top = checks.exact_topk(corpus, ids, np.array([[1.0, 0.0]]), 2)
    assert top.tolist() == [[0, 3]]
    assert checks.recall([0, 3], [0, 3]) == 1.0
    assert checks.recall([0, 2], [0, 3]) == 0.5


def _layout(expected):
    n = len(expected)
    return list(range(n)), [0] * n, list(expected)


def test_live_corpus_check():
    exp = np.arange(12, dtype=np.float32).reshape(4, 3)
    ids, gens, vecs = _layout(exp)
    assert checks.check_live_corpus(ids, gens, vecs, [], [], exp) is None
    # id 2 upserted: old row deleted at gen 0, new version appended at gen 1
    new = exp.copy()
    new[2] = -1
    ok = (ids + [2], gens + [1], vecs + [new[2]], [2], [0])
    assert checks.check_live_corpus(*ok, new) is None
    # the delete was lost: id 2 is live twice
    lost_delete = (ids + [2], gens + [1], vecs + [new[2]], [], [])
    assert "duplicate" in checks.check_live_corpus(*lost_delete, new)
    # the append was lost: id 2 is gone
    assert "count" in checks.check_live_corpus(ids, gens, vecs, [2], [0], new)
    # the tombstone hit the new version too
    assert checks.check_live_corpus(*ok[:3], [2], [1], new)
    # the row kept its old vector
    assert "stale" in checks.check_live_corpus(ids, gens, vecs, [], [], new)


def test_oracle_check():
    got = pd.DataFrame({"k": [1, 2], "v": [0.1234567, 2.0]})
    same = pd.DataFrame({"K": [2, 1], "v": [2.0, 0.12345674]})
    assert checks.check_oracle(got, same) is None
    assert checks.check_oracle(got, pd.DataFrame({"k": [1, 2], "v": [0.1235, 2.0]}))
    assert checks.check_oracle(got, pd.DataFrame({"k": [1], "v": [0.1234567]}))
    assert checks.check_oracle(got, pd.DataFrame({"x": [1, 2], "v": [0.1234567, 2.0]}))
    # an int/float coercion counts as a difference
    coerced = pd.DataFrame({"k": [1.0, 2.0], "v": [0.1234567, 2.0]})
    assert checks.check_oracle(got, coerced)


# ---- generator and tracing --------------------------------------------------


def test_generator_is_seeded():
    kw = dict(
        corpus_seed=1, n=50, dim=8, components=5, spread=1.0, skew=0.5,
        n_queries=10, self_match_every=3,
    )
    a, b, c = (gen.vector_inputs(s, **kw) for s in (1, 1, 2))
    assert np.array_equal(a.corpus, b.corpus) and np.array_equal(a.queries, b.queries)
    # the corpus is fixed by corpus_seed; the seed draws the queries
    assert np.array_equal(a.corpus, c.corpus)
    assert not np.array_equal(a.queries, c.queries)
    for qi, cid in a.self_match.items():
        assert np.array_equal(a.queries[qi], a.corpus[cid])


def test_registry_tables_are_seeded(tmp_path):
    p1 = gen.registry_tables(3, str(tmp_path / "a"), 0.001)
    p2 = gen.registry_tables(3, str(tmp_path / "b"), 0.001)
    for name in p1:
        assert pd.read_parquet(p1[name]).equals(pd.read_parquet(p2[name])), name


def test_self_times_subtract_children():
    p = Probe("t", spark=None, tracing=True)
    with p.call("outer", 1):
        with p.call("inner", 1):
            pass
    st = p.self_times()
    outer, inner = (s for name in ("outer", "inner") for s in p.spans if s.name == name)
    assert inner.parent == outer.span_id and inner.request == outer.request == "1"
    assert st["outer"]["self_s"] == pytest.approx(outer.dt - inner.dt)
    p.tracing = False
    with p.call("untraced") as c:
        pass
    assert c.dt >= 0 and len(p.spans) == 2


# ---- end to end at a tiny size ---------------------------------------------


def _run(cwd, workload, trace):
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
        "--seconds", "2", "--trace", str(trace), "--tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", ["ivf_search", "upsert", "registry"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted_with_unit(workload, trace):
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    proc = _run(CHECKOUT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for m in want:
        assert isinstance(result["metrics"][m["name"]]["value"], float)
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in want)
    assert any(line.startswith("metric ") for line in proc.stdout.splitlines())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(CHECKOUT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run(str(tmp_path), "ivf_search", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
