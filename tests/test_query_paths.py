"""Cross-path property test: one seeded batch of random query rows through
the Spark batch path, the serving path and single-segment federation on
both — every path must return identical (query_id, rank, doc_id, score)
rows, and the plain AND/OR/PHRASE rows must equal the numpy BM25 oracle.

The batch covers modes AND/OR/PHRASE/BOOL with neg_terms, min_match,
`term^boost`, search_after cursors and query-time synonyms over an index
with a tombstoned doc — plus the BOOL + neg_terms row whose must_not the
serving path once ignored."""

import random
import warnings

import numpy as np
import pandas as pd
import pytest

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.oracle.bm25_numpy import NumpyBM25Oracle
from invoicenet_spark.query.exec import load_index, search
from invoicenet_spark.query.federate import search_federated, search_local_federated
from invoicenet_spark.query.local import search_local

CFG = EngineConfig(shard_size=16, block_size=4, build_partitions=2, with_positions=True)
VOCAB = ["spark", "data", "window", "query", "engine", "index", "alpha", "beta",
         "gamma", "delta", "rare", "zeta"]
WEIGHTS = [9, 8, 6, 6, 5, 5, 4, 4, 3, 3, 1, 2]
SYNONYMS = {"alpha": ["beta"], "engine": ["index", "zeta"]}
N_DOCS, N_ROWS, SEED = 80, 40, 7
BIG = 1000


@pytest.fixture(scope="module")
def paths_index(spark, tmp_path_factory):
    """(root, oracle, deleted doc_id) over seeded random-word docs, one doc
    tombstoned."""
    from invoicenet_spark.index.build import build_index
    from invoicenet_spark.index.deletes import delete_docs

    rng = random.Random(SEED)
    texts = {
        f"https://paths.example/{i:03d}": " ".join(
            rng.choices(VOCAB, WEIGHTS, k=rng.randint(3, 12))
        )
        for i in range(N_DOCS)
    }
    pages = spark.createDataFrame(
        [(u, t, "en") for u, t in texts.items()], "url string, text string, lang string"
    )
    root = str(tmp_path_factory.mktemp("paths") / "index")
    build_index(spark, pages, root, CFG, use_stored_text=True)
    id_map = {
        r["url"]: r["doc_id"]
        for r in load_index(spark, root).docs.select("url", "doc_id").collect()
    }
    oracle = NumpyBM25Oracle({id_map[u]: t for u, t in texts.items()})
    deleted = id_map["https://paths.example/003"]
    assert delete_docs(spark, root, doc_ids=[deleted]) == 1
    return root, oracle, deleted


def _random_rows(oracle) -> tuple[pd.DataFrame, set[int]]:
    """The seeded batch, and the query_ids of its plain rows (no modifier,
    no synonym key) that the oracle answers directly."""
    rng = random.Random(SEED)
    plain_vocab = [t for t in VOCAB if t not in SYNONYMS]
    rows, plain = [], set()
    for qid in range(N_ROWS):
        mode = rng.choice(["AND", "OR", "OR", "PHRASE", "BOOL"])
        pool = plain_vocab if qid % 2 else VOCAB
        terms = rng.sample(pool, rng.randint(1, 3))
        row = {"query_id": qid, "terms": terms, "mode": mode, "k": rng.choice([3, 10]),
               "neg_terms": [], "min_match": 0, "after_score": np.nan,
               "after_doc": np.nan}
        if mode == "PHRASE":
            # a bigram that occurs, so phrase rows have hits
            doc = rng.choice(sorted(oracle._texts))
            toks = oracle._texts[doc].split()
            i = rng.randrange(max(len(toks) - 1, 1))
            row["terms"] = toks[i:i + 2]
        elif mode == "BOOL":
            a, b, c = rng.sample(VOCAB, 3)
            row["terms"] = [rng.choice([f"({a} OR {b}) AND NOT {c}",
                                        f"{a} AND ({b} OR {c}^2)",
                                        f'"{a} {b}" OR {c}'])]
        if qid % 2 and mode != "BOOL" and qid % 3 == 0:
            plain.add(qid)
        elif mode != "PHRASE":
            twist = rng.choice(["neg", "mm", "boost", "cursor"])
            if twist == "neg":
                row["neg_terms"] = [rng.choice(VOCAB)]
            elif twist == "mm" and mode == "OR" and len(terms) > 1:
                row["min_match"] = 2
            elif twist == "boost" and mode != "BOOL":
                row["terms"] = [f"{t}^2.5" if j == 0 else t for j, t in enumerate(terms)]
            elif twist == "cursor" and mode != "BOOL":
                page1 = oracle.topk(terms, k=2, mode=mode)
                if page1:
                    row["after_score"], row["after_doc"] = page1[-1][1], page1[-1][0]
        rows.append(row)
    # the BOOL + neg_terms row the serving path used to answer without its
    # must_not (neg_terms are folded into the tree now)
    rows.append({"query_id": N_ROWS, "terms": ["spark OR data"], "mode": "BOOL",
                 "k": BIG, "neg_terms": ["window"], "min_match": 0,
                 "after_score": np.nan, "after_doc": np.nan})
    q = pd.DataFrame(rows)
    q["after_segment"] = 0  # federated cursors name the segment
    return q, plain


def _rows(df) -> list[tuple]:
    return sorted(
        (int(r.query_id), int(r.rank), int(r.doc_id), round(float(r.score), 9))
        for r in df.itertuples()
    )


def test_every_path_gives_the_same_rows(spark, paths_index):
    root, oracle, deleted = paths_index
    q, plain = _random_rows(oracle)
    idx = load_index(spark, root)
    spark_rows = _rows(search(spark, idx, q, synonyms=SYNONYMS).toPandas())
    assert spark_rows == _rows(search_local(root, q, synonyms=SYNONYMS))

    # federation takes no synonym map: compare it on the rows synonyms
    # leave alone (BOOL trees, and flat rows without a synonym key)
    fq = q[(q["mode"] == "BOOL") | ~q["terms"].map(
        lambda ts: any(t.split("^")[0] in SYNONYMS for t in ts)
    )].reset_index(drop=True)
    want = [r for r in spark_rows if r[0] in set(fq["query_id"])]
    assert want == _rows(search_federated(spark, [root], fq).toPandas())
    assert want == _rows(search_local_federated([root], fq))

    by_q: dict[int, list] = {}
    for qid, rank, doc, score in spark_rows:
        by_q.setdefault(qid, []).append((doc, score))
    assert plain and N_ROWS in by_q
    for r in q[q["query_id"].isin(plain)].itertuples():
        expect = [
            (d, s)
            for d, s in oracle.topk(list(r.terms), k=BIG, mode=r.mode)
            if d != deleted
        ][: r.k]
        got = by_q.get(r.query_id, [])
        assert [d for d, _ in got] == [d for d, _ in expect], r
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in expect], rtol=0, atol=1e-9
        )

    # BOOL + neg_terms: no result doc contains the negated term
    window_docs = set(oracle.postings["window"])
    hits = {d for d, _ in by_q[N_ROWS]}
    assert hits and not hits & window_docs


def test_search_infers_group_eval_type_without_warning(spark, paths_index):
    """The shard-kernel group function gives PySpark nothing it cannot
    infer: no 'Cannot infer the eval type' warning per search call."""
    root, _, _ = paths_index
    q = pd.DataFrame([{"query_id": 1, "terms": ["spark", "data"], "mode": "OR", "k": 5}])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        search(spark, load_index(spark, root), q).toPandas()
    assert not [w for w in caught if "infer the eval type" in str(w.message)]


def test_url_join_broadcasts_the_topk_side(spark, paths_index):
    """with_url joins the tiny top-k rows onto the docs scan: the executed
    plan's BroadcastExchange sits over the top-k side, never over the
    corpus-sized docs table."""
    root, _, _ = paths_index
    q = pd.DataFrame([{"query_id": 1, "terms": ["spark"], "mode": "OR", "k": 5}])
    df = search(spark, load_index(spark, root), q)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the executed (post-AQE) plan
    join = plan[plan.index("BroadcastHashJoin [doc_id"):]
    assert "Inner, BuildRight" in join.splitlines()[0], plan
    # children print streamed side first: the docs scan, then the build
    # side's BroadcastExchange over the ranked top-k rows
    streamed, built = join.split("BroadcastExchange", 1)
    assert "/docs]" in streamed and "Window" not in streamed, plan
    assert "Window" in built, plan
