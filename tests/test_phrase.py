"""Positional index + phrase queries: codec round-trip, rank-identity vs the
oracle's independent token-scan implementation, and non-positional parity."""

import numpy as np
import pandas as pd
import pytest

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.fixtures import gen_pages_pandas, gen_pages_spark, gen_queries
from invoicenet_spark.index.build import build_index
from invoicenet_spark.index.codec import decode_positions, encode_posting_list
from invoicenet_spark.oracle.bm25_numpy import NumpyBM25Oracle, tokenize
from invoicenet_spark.query.exec import load_index, search

CFG = EngineConfig(shard_size=64, block_size=16, build_partitions=4, with_positions=True)
N_DOCS = 250


def test_decode_positions_roundtrip():
    # synthetic: 3 postings with tfs 2, 1, 3
    tfs = np.array([2, 1, 3], dtype=np.int64)
    pos_flat = np.array([4, 9, 0, 2, 5, 11], dtype=np.int64)  # ascending per posting
    row = encode_posting_list(
        np.array([10, 20, 30], dtype=np.int64), tfs,
        np.array([50, 60, 70], dtype=np.int64), block_size=2, positions=pos_flat,
    )
    assert isinstance(row["pos_blob"], bytes)
    got_flat, off = decode_positions(row, tfs)
    assert (got_flat == pos_flat).all()
    assert list(off) == [0, 2, 3, 6]


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("posidx"))
    pages = gen_pages_spark(spark, N_DOCS, seed=42, partitions=4)
    build_index(spark, pages, out, CFG)
    return load_index(spark, out)


@pytest.fixture(scope="module")
def pos_oracle(pos_index):
    pages = gen_pages_pandas(N_DOCS, seed=42)
    en = pages[pages["lang"] == "en"]
    id_map = {r["url"]: r["doc_id"] for r in pos_index.docs.select("url", "doc_id").collect()}
    return NumpyBM25Oracle({id_map[u]: t for u, t in zip(en["url"], en["text"])})


def _real_bigrams(pos_oracle, n: int):
    """Bigrams that actually occur, plus some that don't."""
    out = []
    for doc_id, text in list(pos_oracle._texts.items())[:20]:
        toks = tokenize(text)
        if len(toks) >= 2:
            out.append([toks[3], toks[4]])
        if len(out) >= n:
            break
    return out


def test_phrase_rank_identity(spark, pos_index, pos_oracle):
    bigrams = _real_bigrams(pos_oracle, 8)
    bigrams += [["zzz", "qqq"], [bigrams[0][1], bigrams[0][0]]]  # miss + reversed
    rows = [
        {"query_id": i + 1, "terms": bg, "mode": "PHRASE", "k": 10}
        for i, bg in enumerate(bigrams)
    ]
    res = search(spark, pos_index, pd.DataFrame(rows)).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    any_nonempty = False
    for i, bg in enumerate(bigrams):
        expect = pos_oracle.phrase_topk(bg, k=10)
        got = sorted(by_q.get(i + 1, []), key=lambda r: r["rank"])
        assert [g["doc_id"] for g in got] == [d for d, _ in expect], bg
        for g, (_, s) in zip(got, expect):
            assert abs(g["score"] - s) < 1e-9
        any_nonempty = any_nonempty or bool(expect)
    assert any_nonempty  # the fixture really exercised matches


def test_phrase_subset_of_and(spark, pos_index, pos_oracle):
    bigrams = _real_bigrams(pos_oracle, 5)
    prows = [
        {"query_id": i + 1, "terms": bg, "mode": "PHRASE", "k": 10_000}
        for i, bg in enumerate(bigrams)
    ]
    arows = [
        {"query_id": i + 1, "terms": bg, "mode": "AND", "k": 10_000}
        for i, bg in enumerate(bigrams)
    ]
    p = search(spark, pos_index, pd.DataFrame(prows)).collect()
    a = search(spark, pos_index, pd.DataFrame(arows)).collect()
    pset, aset = {}, {}
    for r in p:
        pset.setdefault(r["query_id"], set()).add(r["doc_id"])
    for r in a:
        aset.setdefault(r["query_id"], set()).add(r["doc_id"])
    for qid, docs in pset.items():
        assert docs <= aset.get(qid, set())


def test_positional_index_matches_plain_for_or(spark, pos_index, tmp_path_factory, pos_oracle):
    """OR/AND results identical whether or not positions were built."""
    out = str(tmp_path_factory.mktemp("plainidx"))
    cfg = EngineConfig(shard_size=64, block_size=16, build_partitions=4)
    build_index(spark, gen_pages_spark(spark, N_DOCS, seed=42, partitions=4), out, cfg)
    plain = load_index(spark, out)
    qs = gen_queries(20, seed=42)
    a = search(spark, pos_index, qs).collect()
    b = search(spark, plain, qs).collect()
    key = lambda r: (r["query_id"], r["rank"])
    for x, y in zip(sorted(a, key=key), sorted(b, key=key)):
        assert (x["query_id"], x["rank"], x["doc_id"]) == (y["query_id"], y["rank"], y["doc_id"])
        assert abs(x["score"] - y["score"]) < 1e-9
