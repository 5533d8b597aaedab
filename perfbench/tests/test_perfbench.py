"""Tests of the benchmark's own logic; no Spark needed.

    python -m pytest perfbench/tests -q
"""

import os
import sys
import types

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

from check import oracle_mismatches, path_mismatches  # noqa: E402
from inputs import check_inputs, corpus_vocab, hit_share, make_inputs  # noqa: E402
from measure import (  # noqa: E402
    REF_NOMINAL_S,
    Span,
    Tracer,
    at_ref_speed,
    drift,
    ref_kernel,
    self_times,
    tail_percentile,
)

from invoicenet_spark.oracle.bm25_numpy import NumpyBM25Oracle  # noqa: E402


def _small(seed, n_pages=400, **kw):
    return make_inputs(seed, n_pages=n_pages, n_queries=60, n_batches=2, n_delta=20, **kw)


def test_same_seed_same_inputs():
    a, b = _small(7), _small(7)
    pd.testing.assert_frame_equal(a.pages, b.pages)
    pd.testing.assert_frame_equal(a.queries, b.queries)
    pd.testing.assert_frame_equal(a.delta, b.delta)
    for x, y in zip(a.batches, b.batches):
        pd.testing.assert_frame_equal(x, y)
    assert a.check_ids == b.check_ids
    c = _small(8)
    assert not a.pages["text"].equals(c.pages["text"])


def test_inputs_mix_and_recrawls():
    a = _small(7)
    assert set(a.queries["mode"]) == {"AND", "OR", "BOOL"}
    bool_rows = a.queries[a.queries["mode"] == "BOOL"]
    assert all(len(ts) == 1 for ts in bool_rows["terms"])
    # half the delta re-crawls base urls, the rest are new pages
    assert a.delta["url"].isin(a.pages["url"]).sum() == len(a.delta) // 2
    assert set(a.check_ids) <= set(a.queries["query_id"])


def test_mismatched_query_seed_is_caught():
    # large enough that tail-band query terms occur in the corpus
    good = _small(7, n_pages=1500)
    vocab = corpus_vocab(good.pages)
    assert check_inputs(good, vocab) == []
    bad = _small(7, n_pages=1500, query_seed=43)
    problems = check_inputs(bad, vocab)
    assert any("seed" in p for p in problems)
    assert any("hit the corpus vocabulary" in p for p in problems)
    assert hit_share(bad, vocab) < 0.5 < hit_share(good, vocab)


@pytest.mark.parametrize(
    "n, want",
    [(9, None), (99, None), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0),
     (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    xs = list(range(1, n + 1))
    got = tail_percentile(xs)
    if want is None:
        assert got is None
        return
    p, v = got
    assert p == want
    assert sum(x > v for x in xs) >= 10
    assert sum(x <= v for x in xs) >= p * n / 100


def test_self_time_by_subtraction():
    spans = [
        Span("root", 0.0, 10.0, None),
        Span("a", 1.0, 4.0, 0),
        Span("b", 3.0, 6.0, 0),  # overlaps a: the overlap counts once
        Span("a.child", 2.0, 3.0, 1),
        Span("late", 9.5, 12.0, 0),  # runs past its parent: clipped
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 0.5, 2.0, 3.0, 1.0, 2.5])


def test_tracer_wraps_and_restores():
    ns = types.SimpleNamespace(f=lambda x: [x] * x)
    orig = ns.f
    tr = Tracer(True)
    seen = []
    tr.wrap(ns, "f", "f", on_result=lambda out: seen.append(len(out)))
    tr.qid = 5
    with tr.span("outer"):
        assert ns.f(3) == [3, 3, 3]
    tr.unwrap_all()
    assert ns.f is orig and seen == [3]
    outer, inner = tr.spans
    assert inner.parent == 0 and inner.qid == 5 and outer.parent is None
    off = Tracer(False)
    off.wrap(ns, "f", "f")
    assert ns.f is orig and not off.spans


def test_drift():
    assert drift([1.0]) == 0.0
    assert drift([2.0, 2.0, 1.0, 1.0]) == pytest.approx(-0.5)
    assert drift([1.0, 1.0, 1.0]) == 0.0


def test_reference_speed_scaling():
    # an op that ran while the kernel took twice its nominal time counts half
    assert at_ref_speed(0.010, 2 * REF_NOMINAL_S) == pytest.approx(0.005)
    assert at_ref_speed(0.010, REF_NOMINAL_S) == pytest.approx(0.010)
    assert ref_kernel() > 0


def _oracle_case():
    docs = {0: "apple pie apple", 1: "apple tart", 2: "pie crust pie", 3: "tart pie"}
    oracle = NumpyBM25Oracle(docs)
    queries = pd.DataFrame(
        {"query_id": [1, 2], "terms": [["apple", "pie"], ["pie OR tart"]],
         "mode": ["OR", "BOOL"], "orig_mode": ["OR", "OR"], "k": [3, 3]}
    )
    rows = []
    for qid, terms in ((1, ["apple", "pie"]), (2, ["pie", "tart"])):
        for rank, (d, s) in enumerate(oracle.topk(terms, k=3, mode="OR"), 1):
            rows.append({"query_id": qid, "rank": rank, "doc_id": d, "score": s})
    return oracle, queries, pd.DataFrame(rows)


def test_oracle_check_passes_exact_answers():
    oracle, queries, res = _oracle_case()
    assert oracle_mismatches(oracle, queries, res, [1, 2]) == []


def test_oracle_check_fails_on_perturbed_score():
    oracle, queries, res = _oracle_case()
    res.loc[res["query_id"] == 2, "score"] += 1e-6
    assert oracle_mismatches(oracle, queries, res, [1, 2]) == [2]


def test_oracle_check_fails_on_wrong_doc_or_missing_row():
    oracle, queries, res = _oracle_case()
    swapped = res.copy()
    swapped.loc[0, "doc_id"] = 3
    assert oracle_mismatches(oracle, queries, swapped, [1, 2]) == [1]
    assert oracle_mismatches(oracle, queries, res.iloc[1:], [1, 2]) == [1]


def test_path_check_compares_both_directions():
    _, _, res = _oracle_case()
    assert path_mismatches(res, res.copy()) == []
    assert path_mismatches(res, res[res["query_id"] == 1]) == [2]
