"""Query-time synonym expansion (the tree builders booltree.flat_row_to_tree
and fielded_tree, called per row by plan.normalize): OR rows gain every
form as a clause, AND rows get one disjunction group of forms per distinct
base term; boosts ride onto every form and duplicate terms follow the same
rule as without a synonym map; both query paths identical."""

import numpy as np
import pandas as pd
import pytest

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.query.exec import load_index, search
from invoicenet_spark.query.local import search_local

CFG = EngineConfig(
    shard_size=32, block_size=8, build_partitions=4, with_positions=True
)

DOCS = [
    "car park big",          # 0
    "auto park small",       # 1
    "automobile garage big", # 2
    "truck park big",        # 3
]
SYN = {"car": ["auto", "automobile"]}


@pytest.fixture(scope="module")
def syn_idx(spark, tmp_path_factory):
    from invoicenet_spark.index.build import build_index

    pages = spark.createDataFrame(
        [(f"{i:03d}", t, "en") for i, t in enumerate(DOCS)],
        "url string, text string, lang string",
    )
    root = str(tmp_path_factory.mktemp("syn_idx") / "index")
    build_index(spark, pages, root, CFG, use_stored_text=True)
    return root


def _both(spark, root, q, synonyms=None):
    sp = (
        search(spark, load_index(spark, root), q.copy(), synonyms=synonyms)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    lo = (
        search_local(root, q.copy(), synonyms=synonyms)
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert list(lo["doc_id"]) == list(sp["doc_id"])
    assert np.allclose(
        lo["score"].to_numpy(dtype=float), sp["score"].to_numpy(dtype=float)
    )
    return sp


def _rows(res, qid):
    d = res[res["query_id"] == qid]
    return list(zip(d["doc_id"].astype(int), d["score"].round(9)))


def test_or_expansion(spark, syn_idx):
    q = pd.DataFrame(
        [
            {"query_id": 1, "terms": ["car"], "mode": "OR", "k": 10},
            {"query_id": 2, "terms": ["car", "auto", "automobile"],
             "mode": "OR", "k": 10},
        ]
    )
    with_syn = _both(spark, syn_idx, q[q["query_id"] == 1], synonyms=SYN)
    manual = _both(spark, syn_idx, q[q["query_id"] == 2])
    assert _rows(with_syn, 1) == _rows(manual, 2)
    assert {d for d, _ in _rows(with_syn, 1)} == {0, 1, 2}


def test_and_becomes_groups(spark, syn_idx):
    """AND + synonyms ≡ the BOOL tree (car OR auto OR automobile) AND park
    — any form of every concept, floats identical to the hand-written
    grammar query."""
    q_syn = pd.DataFrame(
        [{"query_id": 1, "terms": ["car", "park"], "mode": "AND", "k": 10}]
    )
    q_tree = pd.DataFrame(
        [{"query_id": 1,
          "terms": ["(car OR auto OR automobile) AND park"],
          "mode": "BOOL", "k": 10}]
    )
    with_syn = _both(spark, syn_idx, q_syn, synonyms=SYN)
    manual = _both(spark, syn_idx, q_tree)
    assert _rows(with_syn, 1) == _rows(manual, 1)
    assert {d for d, _ in _rows(with_syn, 1)} == {0, 1}
    # plain AND without synonyms: only the literal form
    plain = _both(spark, syn_idx, q_syn)
    assert {d for d, _ in _rows(plain, 1)} == {0}


def test_boost_rides_synonyms(spark, syn_idx):
    q = pd.DataFrame([{"query_id": 1, "terms": ["car^2"], "mode": "OR", "k": 10}])
    manual = pd.DataFrame(
        [{"query_id": 1, "terms": ["car^2", "auto^2", "automobile^2"],
          "mode": "OR", "k": 10}]
    )
    a = _both(spark, syn_idx, q, synonyms=SYN)
    b = _both(spark, syn_idx, manual)
    assert _rows(a, 1) == _rows(b, 1)


def test_other_modes_untouched(spark, syn_idx):
    q = pd.DataFrame(
        [{"query_id": 1, "terms": ["car", "park"], "mode": "PHRASE", "k": 10}]
    )
    a = _both(spark, syn_idx, q, synonyms=SYN)
    b = _both(spark, syn_idx, q)
    assert _rows(a, 1) == _rows(b, 1)


def test_and_synonyms_neg_terms(spark, syn_idx):
    """AND + synonyms + neg_terms: the must_not exclusion must survive the
    AND→BOOL synonym rewrite on BOTH paths (the rewrite folds neg_terms
    into the tree as a NOT node; previously the serving path silently
    ignored the leftover neg_terms column)."""
    q = pd.DataFrame(
        [{"query_id": 1, "terms": ["car", "park"], "mode": "AND", "k": 10,
          "neg_terms": ["big"]}]
    )
    res = _both(spark, syn_idx, q, synonyms=SYN)
    # (car|auto|automobile) AND park, NOT big → only doc 1 ("auto park small")
    assert {d for d, _ in _rows(res, 1)} == {1}


def test_duplicate_boosts_sum_with_synonyms(spark, syn_idx):
    """`car^2 car^2` ≡ `car^4` under a synonym map, as without one: every
    occurrence of a term is a clause, and so is every form it expands to."""
    def q(terms):
        return pd.DataFrame([{"query_id": 1, "terms": terms, "mode": "OR", "k": 10}])

    dup = _both(spark, syn_idx, q(["car^2", "car^2"]), synonyms=SYN)
    single = _both(spark, syn_idx, q(["car^4"]), synonyms=SYN)
    manual = _both(spark, syn_idx, q(["car^4", "auto^4", "automobile^4"]))
    assert _rows(dup, 1) == _rows(single, 1) == _rows(manual, 1)


def test_and_duplicates_stay_one_group(spark, syn_idx):
    """`car car park` ≡ `car park` on an AND row under a synonym map: a
    plain duplicate is one (car|auto|automobile) group, not two."""
    def q(terms):
        return pd.DataFrame([{"query_id": 1, "terms": terms, "mode": "AND", "k": 10}])

    dup = _both(spark, syn_idx, q(["car", "car", "park"]), synonyms=SYN)
    single = _both(spark, syn_idx, q(["car", "park"]), synonyms=SYN)
    assert _rows(dup, 1) == _rows(single, 1)
    assert {d for d, _ in _rows(dup, 1)} == {0, 1}
