"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The last two tests run each workload end to end at a tiny size (about a
minute each); the rest run in milliseconds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import stats  # noqa: E402
import tracing  # noqa: E402
import verify  # noqa: E402


# -- percentiles ---------------------------------------------------------------

def test_percentile_refuses_tail_without_ten_samples_beyond():
    xs = list(range(99))
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(xs, 90)
    assert stats.percentile(list(range(100)), 90) == pytest.approx(89.1)
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(999)), 99)


def test_percentile_allows_median_of_few_samples():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([4.0, 1.0], 25) == pytest.approx(1.75)


# -- spans ---------------------------------------------------------------------

def _span(i, start, end, parent=None):
    s = tracing.Span(i, f"s{i}", "l", start, parent, "op")
    s.end = end
    return s


def test_self_time_is_duration_minus_covered_child_interval():
    spans = [_span(0, 0.0, 10.0),
             _span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0),   # overlap: 1..4
             _span(3, 6.0, 7.0, 0),
             _span(4, 1.5, 2.5, 1)]                           # grandchild
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_spans_and_sums_layers():
    t = tracing.Tracer()
    with t.operation("op-0", "q"):
        with t.span("a.f", "a"):
            with t.span("b.g", "b"):
                pass
    assert [s.parent for s in t.spans] == [None, 0, 1]
    assert all(s.op == "op-0" for s in t.spans)
    layers = t.layer_self_s()
    total = t.spans[0].end - t.spans[0].start
    assert sum(layers.values()) == pytest.approx(total)
    # reports restricted to other operations (the warm-up) see none of it
    assert t.layer_self_s({"op-1"}) == {}
    assert t.inclusive_s("a.f", {"op-1"}) == 0
    assert t.inclusive_s("a.f", {"op-0"}) == t.inclusive_s("a.f") > 0
    assert t.count("b.", {"op-0"}) == 1 and t.count("b.", {"op-1"}) == 0


# -- verifiers -----------------------------------------------------------------

@pytest.fixture
def corpus():
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((200, 8)).astype(np.float32)
    ids = np.arange(100, 300, dtype=np.int64)
    q = rng.standard_normal(8)
    return ids, vecs, verify.cosine_distances(vecs, q)


def _answer(ids, d, k, mask=None):
    top = verify.exact_topk(ids, d, k, mask)
    pos = {int(i): n for n, i in enumerate(ids)}
    return [(int(i), float(d[pos[int(i)]])) for i in top]


def test_topk_check_rejects_corrupted_results(corpus):
    ids, _, d = corpus
    good = _answer(ids, d, 10)
    assert verify.check_topk(good, ids, d, 10) is None
    far = int(ids[np.argmax(d)])
    bad = [good[:9] + [(far, float(d.max()))],                 # a worse row
           good[:9],                                            # one short
           [good[1], good[0]] + good[2:],                       # unordered
           good[:9] + [(good[9][0], good[9][1] + 1e-3)],        # wrong dist
           good[:9] + [(999_999, good[9][1])]]                  # unknown id
    for rows in bad:
        assert verify.check_topk(rows, ids, d, 10) is not None


def test_hybrid_checks_reject_rows_outside_the_filter(corpus):
    ids, _, d = corpus
    mask = ids % 3 == 0
    good = _answer(ids, d, 10, mask)
    assert verify.check_topk(good, ids, d, 10, mask) is None
    outside = _answer(ids, d, 1, ~mask)
    assert verify.check_topk(good[:9] + outside, ids, d, 10, mask) is not None
    wide = np.zeros(len(ids), bool)
    wide[np.argsort(d)[:40]] = True
    post = _answer(ids, d, 10, mask & wide)
    assert verify.check_postfilter(post, ids, d, 10, 40, mask) is None
    # rows past the wide fetch are not reference-parity results
    assert verify.check_postfilter(good, ids, d, 10, 12, mask) is not None


def test_ann_check_grades_recall_but_rejects_wrong_distances(corpus):
    ids, _, d = corpus
    good = _answer(ids, d, 10)
    partial = good[:5] + _answer(ids, d, 20)[15:]
    assert verify.check_ann(partial, ids, d, 10) is None
    assert verify.ann_recall(partial, ids, d, 10) == pytest.approx(0.5)
    wrong = good[:9] + [(good[9][0], 0.0)]
    assert verify.check_ann(wrong, ids, d, 10) is not None


def test_rows_check_rejects_a_changed_value():
    want = [("A", 3, 1.25), ("B", 2, 0.5)]
    assert verify.check_rows([("A", 3, 1.25 + 1e-12), ("B", 2, 0.5)],
                             want) is None
    assert verify.check_rows([("A", 3, 1.26), ("B", 2, 0.5)], want)
    assert verify.check_rows([("A", 4, 1.25), ("B", 2, 0.5)], want)
    assert verify.check_rows(want[:1], want)


def test_digest_check_rejects_a_changed_row():
    cols, rows = ["k", "v"], [(1, 0.5), (2, None)]
    want = {"rows": 2, "digest": verify.row_digest(cols, rows)}
    assert verify.check_digest(["v", "k"], [(None, 2), (0.5, 1)], want) \
        is None                                   # order-insensitive
    assert verify.check_digest(cols, [(1, 0.5), (2, 0.0)], want)
    assert verify.check_digest(cols, rows[:1], want)


def test_snapshot_check_rejects_stale_missing_and_extra_keys():
    want = {1: 0, 2: 3}
    assert verify.check_snapshot([(1, 0), (2, 3)], want) is None
    assert verify.check_snapshot([(1, 0), (2, 2)], want)
    assert verify.check_snapshot([(1, 0)], want)
    assert verify.check_snapshot([(1, 0), (2, 3), (5, 1)], want)


# -- end to end ----------------------------------------------------------------

def _run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=600)


@pytest.mark.parametrize("workload,trace", [("lake", "1"), ("pipeline", "1")])
def test_workload_completes_at_tiny_size(workload, trace):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, p.stderr[-2000:]
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = {m["name"] for m in spec["per_layer"]}
    assert set(out["metrics"]) == names
    assert out["metrics"]["spark.jobs"]["value"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("--workload", "lake", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
