"""Analyzer chain (functions/analyzer.py analyze_col / analyze_terms):
stopword removal + Harman S-stemming applied identically at index and
query time, on both query paths.

Pins: (1) the JVM column expression and the Python twin are
token-identical (fuzz); (2) an index built with the chain matches plural/
stopword query surfaces through BOTH paths, rank-identically; (3) phrase
adjacency across removed stopwords; (4) stopword elision semantics for
AND / BOOL trees; (5) chain persistence through stats.json + manifest
(resume); (6) snippets highlight surface forms for stemmed terms."""

import numpy as np
import pandas as pd
import pytest

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.functions.analyzer import (
    analyze_col,
    analyze_terms,
    s_stem_py,
)

STOP = ("the", "of", "a", "and")
CFG = EngineConfig(
    shard_size=32, block_size=8, build_partitions=4, with_positions=True,
    store_text=True, stopwords=STOP, stem="s_stem",
)

DOCS = [
    "the president of the usa spoke",            # 0: phrase-over-stopwords
    "many tables and windows in a room",         # 1: plurals
    "window table room",                         # 2: singulars
    "queries query studies bus pass face faces", # 3: ies/es/us/ss edges
    "the the of and a",                          # 4: all stopwords
    "spoke usa president tables",                # 5: mixed
]


@pytest.fixture(scope="module")
def chain_idx(spark, tmp_path_factory):
    from invoicenet_spark.index.build import build_index

    pages = spark.createDataFrame(
        [(f"{i:03d}", t, "en") for i, t in enumerate(DOCS)],
        "url string, text string, lang string",
    )
    root = str(tmp_path_factory.mktemp("chain_idx") / "index")
    build_index(spark, pages, root, CFG, use_stored_text=True)
    return root


def test_s_stem_rules():
    cases = {
        "queries": "query", "studies": "study", "tables": "table",
        "windows": "window", "faces": "face", "bus": "bus", "pass": "pass",
        "ties": "ty", "goes": "goes", "sees": "sees", "aes": "aes",
        "its": "its", "is": "is", "was": "was", "query": "query",
        "eies": "eies", "maies": "maies",
    }
    for w, want in cases.items():
        assert s_stem_py(w) == want, (w, s_stem_py(w), want)
    # idempotent: a stemmed form never re-stems (outputs end y/e/non-s)
    for w in cases:
        assert s_stem_py(s_stem_py(w)) == s_stem_py(w)


def test_column_and_python_twins_fuzz(spark):
    """analyze_col (JVM) == tokenize+analyze_terms (Python) on random text."""
    rng = np.random.default_rng(7)
    frags = ["tables", "the", "query", "queries", "bus", "pass", "faces",
             "windows", "of", "x", "abc", "stories", "goes", "classes",
             "a", "zses", "accesses", "us", "ss", "ies", "es"]
    texts = [
        " ".join(rng.choice(frags, size=rng.integers(0, 12)).tolist())
        for _ in range(60)
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        r["toks"]
        for r in df.select(
            analyze_col("text", stopwords=STOP, stem="s_stem").alias("toks")
        ).collect()
    ]
    import re

    for t, g in zip(texts, got):
        toks = [w for w in re.split("[^a-z0-9]+", t.lower()) if w]
        assert g == analyze_terms(toks, STOP, "s_stem"), t


def _search_both(spark, root, q, synonyms=None):
    from invoicenet_spark.query.exec import load_index, search
    from invoicenet_spark.query.local import search_local

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


def _ids(res, qid):
    return set(res[res["query_id"] == qid]["doc_id"].astype(int))


def test_plural_and_stopword_queries(spark, chain_idx):
    q = pd.DataFrame(
        [
            # plural surface → stemmed dictionary: hits docs 1, 2, 5
            {"query_id": 1, "terms": ["tables"], "mode": "OR", "k": 10},
            # singular surface hits the same docs (same dictionary key)
            {"query_id": 2, "terms": ["table"], "mode": "OR", "k": 10},
            # AND with a stopword elides it (Lucene StopFilter): == [room]
            {"query_id": 3, "terms": ["the", "room"], "mode": "AND", "k": 10},
            {"query_id": 4, "terms": ["room"], "mode": "AND", "k": 10},
            # all-stopword query matches nothing
            {"query_id": 5, "terms": ["the", "of"], "mode": "OR", "k": 10},
            # boost rides the stem
            {"query_id": 6, "terms": ["windows^2"], "mode": "OR", "k": 10},
        ]
    )
    res = _search_both(spark, chain_idx, q)
    assert _ids(res, 1) == {1, 2, 5}
    assert _ids(res, 2) == {1, 2, 5}
    assert _ids(res, 3) == _ids(res, 4) != set()
    assert _ids(res, 5) == set()
    plain = _search_both(
        spark, chain_idx,
        pd.DataFrame([{"query_id": 6, "terms": ["windows"], "mode": "OR", "k": 10}]),
    )
    boosted = res[res["query_id"] == 6].reset_index(drop=True)
    assert list(boosted["doc_id"]) == list(plain["doc_id"])
    assert np.allclose(boosted["score"], 2.0 * plain["score"])


def test_phrase_across_removed_stopwords(spark, chain_idx):
    """Positions renumber after stop removal: the full surface phrase
    matches doc 0, and so does the stop-stripped phrase — identically."""
    q = pd.DataFrame(
        [
            {"query_id": 1, "terms": ["president", "of", "the", "usa"],
             "mode": "PHRASE", "k": 10},
            {"query_id": 2, "terms": ["president", "usa"],
             "mode": "PHRASE", "k": 10},
        ]
    )
    res = _search_both(spark, chain_idx, q)
    assert _ids(res, 1) == {0}
    assert _ids(res, 2) == {0}
    s1 = res[res["query_id"] == 1]["score"].to_numpy()
    s2 = res[res["query_id"] == 2]["score"].to_numpy()
    assert np.allclose(s1, s2)


def test_bool_tree_elision(spark, chain_idx):
    q = pd.DataFrame(
        [
            # 'the' clause elides from the AND → same as plain room query
            {"query_id": 1, "terms": ["the AND room"], "mode": "BOOL", "k": 10},
            {"query_id": 2, "terms": ["room"], "mode": "BOOL", "k": 10},
            # stemmed leaf inside a tree + elided stopword arm of an OR
            {"query_id": 3, "terms": ["tables OR of"], "mode": "BOOL", "k": 10},
            {"query_id": 4, "terms": ["table"], "mode": "BOOL", "k": 10},
            # phrase leaf drops stop slots
            {"query_id": 5, "terms": ['"president of the usa"'], "mode": "BOOL",
             "k": 10},
            # NOT with an elided negative keeps the positive
            {"query_id": 6, "terms": ["room NOT the"], "mode": "BOOL", "k": 10},
        ]
    )
    res = _search_both(spark, chain_idx, q)
    assert _ids(res, 1) == _ids(res, 2) != set()
    assert _ids(res, 3) == _ids(res, 4) != set()
    assert _ids(res, 5) == {0}
    assert _ids(res, 6) == _ids(res, 2)
    for a, b in ((1, 2), (3, 4)):
        assert np.allclose(
            res[res["query_id"] == a]["score"].to_numpy(),
            res[res["query_id"] == b]["score"].to_numpy(),
        )


def test_neg_terms_analyzed(spark, chain_idx):
    q = pd.DataFrame(
        [
            # negation stems: 'tables' excludes table docs (5), keeping 0
            {"query_id": 1, "terms": ["usa"], "mode": "OR", "k": 10,
             "neg_terms": ["tables"]},
            {"query_id": 2, "terms": ["usa"], "mode": "OR", "k": 10,
             "neg_terms": ["table"]},
            # negating a stopword excludes nothing (it was never indexed)
            {"query_id": 3, "terms": ["usa"], "mode": "OR", "k": 10,
             "neg_terms": ["the"]},
        ]
    )
    res = _search_both(spark, chain_idx, q)
    assert _ids(res, 1) == _ids(res, 2) == {0}
    assert _ids(res, 3) == {0, 5}


def test_chain_persisted_and_doc_len(spark, chain_idx):
    """stats.json carries the chain; doc_len counts ONLY surviving tokens
    (stopword removal shrinks BM25 length normalization, the part a
    query-side-only rewrite could never reproduce)."""
    import json
    import os

    s = json.load(open(os.path.join(chain_idx, "stats.json")))
    assert tuple(s["stopwords"]) == STOP and s["stem"] == "s_stem"
    from invoicenet_spark.query.exec import load_index

    docs = {
        int(r["doc_id"]): int(r["doc_len"])
        for r in load_index(spark, chain_idx).docs.collect()
    }
    url_of = {
        int(r["doc_id"]): int(r["url"])
        for r in load_index(spark, chain_idx).docs.select("doc_id", "url").collect()
    }
    by_orig = {url_of[d]: n for d, n in docs.items()}
    assert by_orig[0] == 3  # president usa spoke
    assert by_orig[4] == 0  # all stopwords
    assert by_orig[1] == 5  # many table window in room


def test_snippets_highlight_surface_forms(spark, chain_idx):
    from invoicenet_spark.query.local import search_local
    from invoicenet_spark.query.snippets import attach_snippets_local

    q = pd.DataFrame([{"query_id": 1, "terms": ["windows"], "mode": "OR", "k": 10}])
    res = search_local(chain_idx, q.copy())
    out = attach_snippets_local(chain_idx, res, q)
    snips = " | ".join(out["snippet"])
    assert "«windows»" in snips or "«window»" in snips
    # both surface forms highlight (docs 1 and 2 carry different surfaces)
    assert "«windows»" in snips and "«window»" in snips


# ---------------------------------------------- analyze each term once --
# `ares` stems to `are`, which is itself a stopword: a second analysis pass
# over a planner-built tree would elide it.
ONCE_CFG = EngineConfig(shard_size=8, block_size=4, build_partitions=1,
                        stopwords=("are",), stem="s_stem")
ONCE_DOCS = [  # (title, body)
    ("ares spark", "engine ares"),
    ("spark", "data"),
    ("data", "ares"),
    ("spark only", "here"),
    ("are spark", "are"),
    ("ares data", "spark"),
]
ONCE_SYN = {"spark": ["data"]}


def _pre_analyzed(text):
    return " ".join(analyze_terms(text.split(), ONCE_CFG.stopwords, ONCE_CFG.stem))


@pytest.fixture(scope="module")
def once_indexes(spark, tmp_path_factory):
    """{(layout, chain?): root}: each layout built once with the chain and
    once, chain-free, over the corpus analyzed beforehand — the same
    dictionary, doc lengths and doc ids."""
    import dataclasses

    from invoicenet_spark.index.build import build_index

    base = tmp_path_factory.mktemp("once")
    roots = {}
    for layout, fields in (("plain", ()), ("fielded", ("title", "body"))):
        for chain in (True, False):
            cfg = dataclasses.replace(ONCE_CFG, fields=fields)
            prep = str
            if not chain:
                cfg = dataclasses.replace(cfg, stopwords=(), stem=None)
                prep = _pre_analyzed
            rows = [
                (f"{i:03d}", prep(f"{t} {b}"), prep(t), prep(b), "en")
                for i, (t, b) in enumerate(ONCE_DOCS)
            ]
            pages = spark.createDataFrame(
                rows, "url string, text string, title string, body string, lang string"
            )
            root = str(base / f"{layout}_{chain}")
            build_index(spark, pages, root, cfg, use_stored_text=True)
            roots[layout, chain] = root
    return roots


@pytest.mark.parametrize("layout", ["plain", "fielded"])
def test_each_user_term_analyzed_once(spark, once_indexes, layout):
    """AND + synonyms (the planner builds the tree) and BOOL neg_terms (the
    planner folds them into the tree) must keep a term whose stem is a
    stopword: equal to the same rows written pre-analyzed against the
    chain-free twin, on both query paths."""
    q = pd.DataFrame([
        {"query_id": 1, "terms": ["ares", "spark"], "mode": "AND", "k": 10,
         "neg_terms": []},
        {"query_id": 2, "terms": ["spark"], "mode": "BOOL", "k": 10,
         "neg_terms": ["ares"]},
    ])
    pre = q.assign(terms=[["are", "spark"], ["spark"]],
                   neg_terms=[[], ["are"]])
    got = _search_both(spark, once_indexes[layout, True], q, ONCE_SYN)
    want = _search_both(spark, once_indexes[layout, False], pre, ONCE_SYN)
    cols = ["query_id", "rank", "doc_id"]
    assert got[cols].values.tolist() == want[cols].values.tolist()
    np.testing.assert_allclose(got["score"].to_numpy(float), want["score"].to_numpy(float))
    # one id bucket (build_partitions=1): doc i is ONCE_DOCS[i]
    assert _ids(got, 1) == {0, 2, 5}
    assert _ids(got, 2) == {1, 3, 4}
