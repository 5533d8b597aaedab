"""search(matches_only=True): the full per-query match set without the
global ranking window — the scale-correct input for facet_counts /
top_by_field, which order by facet value / field, never by relevance.

Pins: (1) set- and score-identity with a big-k ranked search across
OR/AND/min_match/neg_terms; (2) the physical plan contains no Window; (3)
facet/sort ops over matches_only equal the same ops over the ranked set.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.fixtures import gen_pages_spark
from invoicenet_spark.index.build import build_index
from invoicenet_spark.query.exec import facet_counts, load_index, search, top_by_field

BIG = 100_000


@pytest.fixture(scope="module")
def mo_idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mo_idx") / "index")
    cfg = EngineConfig(shard_size=64, block_size=16, build_partitions=4)
    build_index(spark, gen_pages_spark(spark, 300, seed=42, partitions=4), root, cfg)
    idx = load_index(spark, root)
    top = [
        r["term"]
        for r in spark.read.parquet(idx.paths.terms)
        .orderBy(F.col("df").desc(), "term").limit(4).collect()
    ]
    return idx, top


def test_matches_only_equals_bigk_and_skips_window(spark, mo_idx):
    idx, top = mo_idx
    q = pd.DataFrame(
        [
            {"query_id": 1, "terms": top[:3], "mode": "OR", "k": 7},
            {"query_id": 2, "terms": top[:2], "mode": "AND", "k": 7},
            {"query_id": 3, "terms": top[:3], "mode": "OR", "k": 7, "min_match": 2},
            {"query_id": 4, "terms": top[:2], "mode": "OR", "k": 7,
             "neg_terms": [top[3]]},
        ]
    )
    mo = search(spark, idx, q, matches_only=True)
    assert "Window" not in mo._jdf.queryExecution().executedPlan().toString()

    ranked = q.copy()
    ranked["k"] = BIG
    want = search(spark, idx, ranked).select("query_id", "doc_id", "score")
    w = {(r["query_id"], r["doc_id"], round(r["score"], 9)) for r in want.collect()}
    g = {(r["query_id"], r["doc_id"], round(r["score"], 9)) for r in mo.collect()}
    assert g == w and g

    # k in the input rows is genuinely ignored (full match set regardless)
    assert mo.count() > 4 * 7

    # facet/sort over the unranked match set == over the ranked one
    ids = sorted({r["doc_id"] for r in mo.select("doc_id").distinct().collect()})
    meta = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "src": [f"s{d % 3}" for d in ids]})
    )
    fa = {
        tuple(r)
        for r in facet_counts(mo, meta, "src").collect()
    }
    fb = {
        tuple(r)
        for r in facet_counts(want.select("query_id", "doc_id"), meta, "src").collect()
    }
    assert fa == fb and fa
    sa = [tuple(r) for r in top_by_field(mo, meta, "src", 5, ascending=True).collect()]
    sb = [
        tuple(r)
        for r in top_by_field(
            want.select("query_id", "doc_id"), meta, "src", 5, ascending=True
        ).collect()
    ]
    assert sa == sb and sa


def test_matches_only_count_only_exclusive(spark, mo_idx):
    idx, top = mo_idx
    q = pd.DataFrame([{"query_id": 1, "terms": top[:2], "mode": "OR", "k": 5}])
    with pytest.raises(ValueError, match="mutually exclusive"):
        search(spark, idx, q, matches_only=True, count_only=True)
