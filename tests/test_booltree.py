"""Boolean query trees (mode='BOOL'): parser units, a 40-tree fuzz of both
query paths against a per-doc brute-force tree evaluator (match sets AND
scores), Spark-vs-serving float identity, and grammar e2e."""

import json
import math

import numpy as np
import pandas as pd
import pytest

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.query import booltree as bt
from invoicenet_spark.query.exec import load_index, search
from invoicenet_spark.query.local import search_local

CFG = EngineConfig(shard_size=32, block_size=8, build_partitions=4, with_positions=True)
BIG = 100_000
VOCAB = [f"w{i}" for i in range(12)]


# ------------------------------------------------------------------- parser --
def test_parse_shapes():
    t = bt.parse("(a AND b) OR (c NOT d)")
    assert t["kind"] == "or" and len(t["clauses"]) == 2
    assert t["clauses"][0] == {
        "kind": "and",
        "clauses": [
            {"kind": "term", "term": "a", "boost": 1.0},
            {"kind": "term", "term": "b", "boost": 1.0},
        ],
    }
    assert t["clauses"][1]["kind"] == "not"

    t = bt.parse('"new york"~2 AND spark^2.5')
    ph = t["clauses"][0]
    assert ph == {
        "kind": "phrase", "terms": ["new", "york"], "slop": 2,
        "ordered": True, "boost": 1.0,
    }
    assert t["clauses"][1]["boost"] == 2.5

    assert bt.parse('"a b"~~3')["ordered"] is False
    assert bt.parse("pre*")["kind"] == "prefix"
    assert bt.parse("fuzzy~2") == {"kind": "fuzzy", "term": "fuzzy", "max_edits": 2}
    # a NOT b == a AND NOT b
    assert bt.parse("a NOT b") == bt.parse("a AND NOT b")


def test_parse_errors():
    for bad in ["NOT a", "a b", "(a AND b", "a AND", "a OR OR b", ""]:
        with pytest.raises((bt.BoolParseError, ValueError)):
            bt.parse(bad)


def test_tree_json_roundtrip():
    t = bt.parse('(a AND "x y"~1) OR c^2 NOT d')
    assert json.loads(json.dumps(t)) == t


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_empty_rows_compile_to_trees_that_match_nothing(mode):
    """A row with no terms compiles to a clause-less tree (no match, as on
    a plain index), with or without a `fields` map."""
    stats = {"title": {"avgdl": 2.0}}
    for tree in (bt.flat_row_to_tree({"mode": mode, "terms": []}),
                 bt.fielded_tree([], mode, {"title": 1.0}, stats)):
        assert tree["kind"] in ("and", "or") and tree["clauses"] == []


# ----------------------------------------------------------- brute evaluator --
def _brute_tf_score(tf, dl, avgdl, k1=1.2, b=0.75):
    return tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dl / avgdl))


def _brute_phrase_match(toks, terms, slop, ordered):
    n = len(terms)
    pos = []
    for t in terms:
        p = [i for i, tok in enumerate(toks) if tok == t]
        if not p:
            return False
        pos.append(p)
    if ordered:
        # greedy chain from every start (exact; see kernels fuzz)
        for start in pos[0]:
            cur, ok = start, True
            for plist in pos[1:]:
                nxt = next((x for x in plist if x > cur), None)
                if nxt is None:
                    ok = False
                    break
                cur = nxt
            if ok and cur - start <= n - 1 + slop:
                return True
        return False
    from itertools import product

    return any(max(sel) - min(sel) <= n - 1 + slop for sel in product(*pos))


def _brute_eval(tree, toks, tf, dl, idf, avgdl):
    """(matches: bool, score: float) for ONE doc."""
    k = tree["kind"]
    if k == "term":
        t = tree["term"]
        if tf.get(t, 0) == 0 or t not in idf:
            return False, 0.0
        return True, tree.get("boost", 1.0) * idf[t] * _brute_tf_score(tf[t], dl, avgdl)
    if k == "phrase":
        terms = tree["terms"]
        if any(t not in idf for t in terms):
            return False, 0.0
        if not _brute_phrase_match(
            toks, terms, int(tree.get("slop", 0)), bool(tree.get("ordered", True))
        ):
            return False, 0.0
        s = sum(
            idf[t] * _brute_tf_score(tf[t], dl, avgdl)
            for t in dict.fromkeys(terms)
        )
        return True, tree.get("boost", 1.0) * s
    if k == "and":
        parts = [_brute_eval(c, toks, tf, dl, idf, avgdl) for c in tree["clauses"]]
        if all(m for m, _ in parts):
            return True, sum(s for _, s in parts)
        return False, 0.0
    if k == "or":
        parts = [_brute_eval(c, toks, tf, dl, idf, avgdl) for c in tree["clauses"]]
        n_hit = sum(1 for m, _ in parts if m)
        if n_hit >= int(tree.get("min_match", 1)) and n_hit > 0:
            return True, sum(s for m, s in parts if m)
        return False, 0.0
    if k == "not":
        pm, ps = _brute_eval(tree["positive"], toks, tf, dl, idf, avgdl)
        nm, _ = _brute_eval(tree["negative"], toks, tf, dl, idf, avgdl)
        return (pm and not nm), (ps if pm and not nm else 0.0)
    raise AssertionError(k)


# ------------------------------------------------------------------ fixtures --
@pytest.fixture(scope="module")
def bool_idx(spark, tmp_path_factory):
    from invoicenet_spark.index.build import build_index

    rng = np.random.default_rng(4242)
    rows = []
    for d in range(60):
        n = int(rng.integers(5, 40))
        toks = [VOCAB[i] for i in rng.integers(0, len(VOCAB), size=n)]
        rows.append((f"{d:012d}", " ".join(toks)))
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    root = str(tmp_path_factory.mktemp("bool_idx") / "index")
    build_index(spark, pages, root, CFG, use_stored_text=True)
    idx = load_index(spark, root)
    # engine doc_ids are internal — results map back through url (int(url)
    # is the synthetic corpus id), like the driver oracle queries do
    doc_toks = {int(u): t.split() for u, t in rows}
    return root, idx, doc_toks


def _corpus_stats(doc_toks):
    N = len(doc_toks)
    dls = {d: len(t) for d, t in doc_toks.items()}
    avgdl = sum(dls.values()) / N
    df = {}
    for toks in doc_toks.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    idf = {t: math.log((N - v + 0.5) / (v + 0.5) + 1.0) for t, v in df.items()}
    return dls, avgdl, idf


def _rand_tree(rng, depth=0):
    r = rng.random()
    if depth >= 2 or r < 0.35:
        if rng.random() < 0.25:
            a, b_ = rng.choice(len(VOCAB), size=2, replace=False)
            return {
                "kind": "phrase",
                "terms": [VOCAB[a], VOCAB[b_]],
                "slop": int(rng.integers(0, 4)),
                "ordered": bool(rng.random() < 0.5),
                "boost": float(rng.choice([1.0, 2.0])),
            }
        return {
            "kind": "term",
            "term": VOCAB[int(rng.integers(0, len(VOCAB)))],
            "boost": float(rng.choice([1.0, 1.0, 0.5, 3.0])),
        }
    kind = rng.choice(["and", "or", "not"])
    if kind == "not":
        return {
            "kind": "not",
            "positive": _rand_tree(rng, depth + 1),
            "negative": _rand_tree(rng, depth + 1),
        }
    n = int(rng.integers(2, 4))
    node = {"kind": kind, "clauses": [_rand_tree(rng, depth + 1) for _ in range(n)]}
    if kind == "or" and rng.random() < 0.3:
        node["min_match"] = 2
    return node


def test_bool_fuzz_vs_brute_force(spark, bool_idx):
    root, idx, doc_toks = bool_idx
    dls, avgdl, idf = _corpus_stats(doc_toks)
    rng = np.random.default_rng(99)
    n_nonempty = 0
    for trial in range(40):
        tree = _rand_tree(rng)
        q = pd.DataFrame(
            [{"query_id": 1, "terms": [""], "mode": "BOOL", "k": BIG, "tree": tree}]
        )
        got = search(spark, idx, q).toPandas()
        loc = search_local(root, q)
        # Spark path vs serving path: float-identical (same evaluator)
        assert got["doc_id"].tolist() == loc["doc_id"].astype("int64").tolist(), trial
        np.testing.assert_array_equal(
            got["score"].to_numpy(), loc["score"].to_numpy(), err_msg=f"trial {trial}"
        )
        expect = {}
        for d, toks in doc_toks.items():
            tf = {}
            for t in toks:
                tf[t] = tf.get(t, 0) + 1
            m, s = _brute_eval(tree, toks, tf, dls[d], idf, avgdl)
            if m:
                expect[d] = s
        got_map = dict(zip(got["url"].astype(int), got["score"]))
        assert set(got_map) == set(expect), f"trial {trial}: tree={tree}"
        if expect:
            n_nonempty += 1
            g = np.array([got_map[d] for d in sorted(expect)])
            e = np.array([expect[d] for d in sorted(expect)])
            np.testing.assert_allclose(g, e, rtol=1e-9, atol=1e-12, err_msg=f"trial {trial}")
    assert n_nonempty >= 20


def test_bool_grammar_end_to_end(spark, bool_idx):
    root, idx, doc_toks = bool_idx
    qs = f"({VOCAB[0]} AND {VOCAB[1]}) OR ({VOCAB[2]} NOT {VOCAB[3]})"
    q = pd.DataFrame([{"query_id": 1, "terms": [qs], "mode": "BOOL", "k": BIG}])
    got = search(spark, idx, q).toPandas()
    expect = {
        d
        for d, toks in doc_toks.items()
        if (VOCAB[0] in toks and VOCAB[1] in toks)
        or (VOCAB[2] in toks and VOCAB[3] not in toks)
    }
    assert set(got["url"].astype(int)) == expect
    loc = search_local(root, q)
    assert set(loc["url"].astype(int)) == expect


def test_bool_spark_frame_input(spark, bool_idx):
    root, idx, doc_toks = bool_idx
    qs = f"{VOCAB[4]} AND {VOCAB[5]}"
    qdf = spark.createDataFrame(
        [(1, [qs], "BOOL", 10)], "query_id long, terms array<string>, mode string, k int"
    )
    got = search(spark, idx, qdf).toPandas()
    ref = search(
        spark, idx,
        pd.DataFrame([{"query_id": 1, "terms": [qs], "mode": "BOOL", "k": 10}]),
    ).toPandas()
    assert got["doc_id"].tolist() == ref["doc_id"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(), ref["score"].to_numpy())


def test_bool_mixed_batch_with_flat_queries(spark, bool_idx):
    """A batch mixing BOOL and flat OR rows: the flat row's results are
    bit-identical to running it alone (tree plumbing must not disturb the
    flat plan)."""
    root, idx, doc_toks = bool_idx
    flat = pd.DataFrame(
        [{"query_id": 2, "terms": [VOCAB[0], VOCAB[1]], "mode": "OR", "k": 15}]
    )
    alone = search(spark, idx, flat).toPandas()
    mixed = pd.DataFrame(
        [
            {"query_id": 1, "terms": [f"{VOCAB[2]} NOT {VOCAB[0]}"], "mode": "BOOL",
             "k": 15, "tree": None},
            {"query_id": 2, "terms": [VOCAB[0], VOCAB[1]], "mode": "OR", "k": 15,
             "tree": None},
        ]
    )
    got = search(spark, idx, mixed).toPandas()
    got2 = got[got["query_id"] == 2].reset_index(drop=True)
    assert got2["doc_id"].tolist() == alone["doc_id"].tolist()
    np.testing.assert_array_equal(got2["score"].to_numpy(), alone["score"].to_numpy())
    # and the BOOL row produced the set difference it asked for
    got1 = set(got[got["query_id"] == 1]["url"].astype(int))
    assert got1 <= {d for d, t in doc_toks.items() if VOCAB[2] in t and VOCAB[0] not in t}


def test_bool_respects_tombstones_and_pagination(spark, bool_idx, tmp_path):
    """BOOL queries mask tombstoned docs at the root (both paths) and honor
    the search_after cursor: page2 == rows k+1..2k of the one-shot run."""
    import shutil

    from invoicenet_spark.index.deletes import delete_docs

    root, idx, doc_toks = bool_idx
    qs = f"({VOCAB[0]} AND {VOCAB[1]}) OR {VOCAB[2]}"
    q = pd.DataFrame([{"query_id": 1, "terms": [qs], "mode": "BOOL", "k": BIG}])
    full = search(spark, idx, q).toPandas()
    assert len(full) > 6

    # pagination: page 1 (k=3) + cursor -> page 2 == rows 4..6 of full
    p1 = search(
        spark, idx,
        pd.DataFrame([{"query_id": 1, "terms": [qs], "mode": "BOOL", "k": 3}]),
    ).toPandas()
    cur = p1.iloc[-1]
    p2 = search(
        spark, idx,
        pd.DataFrame([{
            "query_id": 1, "terms": [qs], "mode": "BOOL", "k": 3,
            "after_score": float(cur["score"]), "after_doc": int(cur["doc_id"]),
        }]),
    ).toPandas()
    assert p2["doc_id"].tolist() == full["doc_id"].iloc[3:6].tolist()
    np.testing.assert_array_equal(
        p2["score"].to_numpy(), full["score"].iloc[3:6].to_numpy()
    )

    # tombstones: delete the top-2 docs on a COPY; survivors re-rank with
    # bit-unchanged scores on both paths
    root2 = str(tmp_path / "bool_del")
    shutil.copytree(root, root2)
    victims = full["url"].iloc[:2].tolist()
    assert delete_docs(spark, root2, urls=victims) == 2
    idx2 = load_index(spark, root2)
    got = search(spark, idx2, q).toPandas()
    expect = full[~full["url"].isin(victims)].reset_index(drop=True)
    assert got["doc_id"].tolist() == expect["doc_id"].tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(), expect["score"].to_numpy())
    loc = search_local(root2, q)
    np.testing.assert_array_equal(got["score"].to_numpy(), loc["score"].to_numpy())
    # counts see the deletes too
    cnt = search(spark, idx2, q, count_only=True).toPandas()["total_hits"].iloc[0]
    assert cnt == len(expect)
    cnt_l = search_local(root2, q, count_only=True)["total_hits"].iloc[0]
    assert cnt_l == len(expect)


def test_bool_prefix_and_fuzzy_leaves(spark, bool_idx):
    """prefix*/fuzzy~ leaves expand against the dictionary before
    evaluation; w* matches the whole vocabulary (every doc with any term)."""
    root, idx, doc_toks = bool_idx
    q = pd.DataFrame([{"query_id": 1, "terms": ["w*"], "mode": "BOOL", "k": BIG}])
    got = search(spark, idx, q).toPandas()
    assert set(got["url"].astype(int)) == set(doc_toks)
    # fuzzy leaf: w1~1 expands to every w<digit> (edit distance 1)
    q2 = pd.DataFrame(
        [{"query_id": 1, "terms": [f"{VOCAB[1]}~1 NOT {VOCAB[2]}"], "mode": "BOOL", "k": BIG}]
    )
    got2 = search(spark, idx, q2).toPandas()
    # every vocab term is within 1 edit of "w1" (substitute the digit, or
    # insert one for w10/w11), so the positive side matches every doc and
    # NOT w2 is the only constraint
    expect = {d for d, toks in doc_toks.items() if VOCAB[2] not in toks}
    assert set(got2["url"].astype(int)) == expect
