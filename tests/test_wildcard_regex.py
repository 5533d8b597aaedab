"""WILDCARD / REGEX query modes (Lucene WildcardQuery / RegexpQuery):
dictionary expansion → OR rewrite, full-match anchoring, clause cap,
Spark/serving parity, wildcard-to-regex translation."""

import numpy as np
import pandas as pd
import pytest

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.query.exec import load_index, search
from invoicenet_spark.query.local import local_index, search_local
from invoicenet_spark.query.qparse import wildcard_to_regex

CFG = EngineConfig(shard_size=32, block_size=8, build_partitions=4)

DOCS = [
    "window windows widow",        # 0
    "table cable stable",          # 1
    "wind lindow table",           # 2
    "abc a1c axc match",           # 3
]


@pytest.fixture(scope="module")
def rx_idx(spark, tmp_path_factory):
    from invoicenet_spark.index.build import build_index

    pages = spark.createDataFrame(
        [(f"{i:03d}", t, "en") for i, t in enumerate(DOCS)],
        "url string, text string, lang string",
    )
    root = str(tmp_path_factory.mktemp("rx_idx") / "index")
    build_index(spark, pages, root, CFG, use_stored_text=True)
    return root


def test_wildcard_to_regex():
    assert wildcard_to_regex("w?ndow") == "w.ndow"
    assert wildcard_to_regex("t*e") == "t.*e"
    assert wildcard_to_regex("a.c") == r"a\.c"   # dot is literal
    assert wildcard_to_regex("x*") == "x.*"


def test_expansion_full_match(spark, rx_idx):
    """Patterns anchor: `w?ndow` must NOT match `windows` (Lucene
    full-term semantics), `a?c` matches the one-char hole only."""
    index = load_index(spark, rx_idx)
    assert index.expand_regex(["w.ndow"]) == ["window"]
    assert index.expand_regex(["a.c"]) == ["a1c", "abc", "axc"]
    li = local_index(rx_idx)
    assert li.expand_regex(["w.ndow"]) == ["window"]
    assert li.expand_regex(["a.c"]) == ["a1c", "abc", "axc"]
    # clause cap (TooManyClauses analog)
    with pytest.raises(ValueError, match="regex expansion"):
        index.expand_regex([".*"], max_expansions=3)
    with pytest.raises(ValueError, match="regex expansion"):
        li.expand_regex([".*"], max_expansions=3)


def _both(spark, root, q):
    sp = (
        search(spark, load_index(spark, root), q.copy())
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    lo = (
        search_local(root, q.copy())
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert list(lo["doc_id"]) == list(sp["doc_id"])
    assert np.allclose(
        lo["score"].to_numpy(dtype=float), sp["score"].to_numpy(dtype=float)
    )
    return sp


def test_modes_match_or_rewrite(spark, rx_idx):
    """WILDCARD/REGEX results equal the hand-expanded OR query on both
    paths (floats identical — it IS the same OR after rewrite)."""
    q = pd.DataFrame(
        [
            {"query_id": 1, "terms": ["w?ndow"], "mode": "WILDCARD", "k": 10},
            {"query_id": 2, "terms": ["w.ndow"], "mode": "REGEX", "k": 10},
            {"query_id": 3, "terms": ["window"], "mode": "OR", "k": 10},
            {"query_id": 4, "terms": ["t*e"], "mode": "WILDCARD", "k": 10},
        ]
    )
    res = _both(spark, rx_idx, q)
    g = {
        qid: list(zip(d["doc_id"].astype(int), d["score"].round(9)))
        for qid, d in res.groupby("query_id")
    }
    assert g[1] == g[2] == g[3]
    # t*e: table, cable? no — full match t...e: table, stable? starts t.
    # dictionary terms matching ^t.*e$: table only (cable/stable start c/s)
    assert set(res[res["query_id"] == 4]["doc_id"].astype(int)) == {1, 2}


def test_fielded_guard(spark, tmp_path_factory):
    from invoicenet_spark.index.build import build_index

    cfg = EngineConfig(
        shard_size=32, block_size=8, build_partitions=4, fields=("title", "body")
    )
    pages = spark.createDataFrame(
        [("001", "spark title", "body words", "en")],
        "url string, title string, body string, lang string",
    )
    root = str(tmp_path_factory.mktemp("rx_fielded") / "index")
    build_index(spark, pages, root, cfg, use_stored_text=True)
    q = pd.DataFrame([{"query_id": 1, "terms": ["sp*"], "mode": "WILDCARD", "k": 5}])
    with pytest.raises(ValueError, match="WILDCARD/REGEX"):
        search(spark, load_index(spark, root), q.copy())
    with pytest.raises(ValueError, match="WILDCARD/REGEX"):
        search_local(root, q.copy())
