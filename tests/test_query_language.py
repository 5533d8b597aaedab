"""Query-language surface beyond AND/OR/PHRASE: negated terms (must_not),
minimum_should_match, and PREFIX expansion — on BOTH query paths (Spark
batch, pyarrow serving), pinned against ground truth derived from plain
big-k queries:

- neg_terms: results == (plain OR results) minus (docs containing any neg
  term), re-ranked; survivors' scores bit-unchanged (a must_not never
  redefines scoring).
- min_match: results == plain-OR docs matching >= m distinct terms; scores
  stay the full OR sums; m=1 == plain OR, m=n == the AND doc set.
- PREFIX: results == plain OR over the dictionary expansion; oversized
  expansions raise (the BooleanQuery.TooManyClauses analog).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.fixtures import gen_pages_spark
from invoicenet_spark.query.exec import load_index, search
from invoicenet_spark.query.local import search_local

CFG = EngineConfig(shard_size=64, block_size=16, build_partitions=8, with_positions=True)
BIG = 100_000


@pytest.fixture(scope="module")
def ql(spark, tmp_path_factory):
    from invoicenet_spark.index.build import build_index

    root = str(tmp_path_factory.mktemp("ql_idx") / "index")
    pages = gen_pages_spark(spark, 300, seed=42, partitions=4)
    build_index(spark, pages, root, CFG)
    idx = load_index(spark, root)
    top = [
        r["term"]
        for r in spark.read.parquet(idx.paths.terms)
        .orderBy(F.col("df").desc(), "term").limit(6).collect()
    ]
    return root, idx, top


def _q(terms, mode="OR", k=BIG, **extra):
    return pd.DataFrame([{"query_id": 1, "terms": terms, "mode": mode, "k": k, **extra}])


def _run(spark, idx, qdf):
    return search(spark, idx, qdf).toPandas().reset_index(drop=True)


def test_neg_terms_exclude_and_preserve_scores(spark, ql):
    root, idx, top = ql
    pos, neg = top[:2], top[2]
    base = _run(spark, idx, _q(pos))
    neg_docs = set(_run(spark, idx, _q([neg]))["doc_id"])
    assert neg_docs and len(base) > len(neg_docs) / 2

    got = _run(spark, idx, _q(pos, neg_terms=[neg]))
    expect = base[~base["doc_id"].isin(neg_docs)].reset_index(drop=True)
    expect["rank"] = np.arange(1, len(expect) + 1)
    assert got["doc_id"].tolist() == expect["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], expect["score"], rtol=0, atol=0)
    assert len(got) < len(base)  # the neg term actually bit

    # serving path: rank-identical
    loc = search_local(root, _q(pos, neg_terms=[neg]))
    assert loc["doc_id"].astype("int64").tolist() == got["doc_id"].tolist()

    # Spark-frame query input takes the same path
    got_df = _run(spark, idx, spark.createDataFrame(_q(pos, neg_terms=[neg])))
    assert got_df["doc_id"].tolist() == got["doc_id"].tolist()


def test_neg_term_absent_from_dictionary_is_noop(spark, ql):
    root, idx, top = ql
    base = _run(spark, idx, _q(top[:2]))
    got = _run(spark, idx, _q(top[:2], neg_terms=["zzznotaterm"]))
    assert got["doc_id"].tolist() == base["doc_id"].tolist()
    loc = search_local(root, _q(top[:2], neg_terms=["zzznotaterm"]))
    assert loc["doc_id"].astype("int64").tolist() == base["doc_id"].tolist()


def test_neg_with_and_mode(spark, ql):
    root, idx, top = ql
    base = _run(spark, idx, _q(top[:2], mode="AND"))
    neg = top[3]
    neg_docs = set(_run(spark, idx, _q([neg]))["doc_id"])
    got = _run(spark, idx, _q(top[:2], mode="AND", neg_terms=[neg]))
    assert set(got["doc_id"]) == set(base["doc_id"]) - neg_docs
    loc = search_local(root, _q(top[:2], mode="AND", neg_terms=[neg]))
    assert loc["doc_id"].astype("int64").tolist() == got["doc_id"].tolist()


def test_min_match(spark, ql):
    root, idx, top = ql
    # one stopword-like term plus rare terms, so match counts actually vary
    rare = [
        r["term"]
        for r in spark.read.parquet(idx.paths.terms).where(F.col("df").between(5, 40))
        .orderBy("term")
        .limit(3)
        .collect()
    ]
    assert len(rare) == 3
    terms = [top[0]] + rare
    base = _run(spark, idx, _q(terms))
    per_term = {t: set(_run(spark, idx, _q([t]))["doc_id"]) for t in terms}
    counts = {
        d: sum(d in s for s in per_term.values()) for d in base["doc_id"]
    }

    for m in (2, 3):
        got = _run(spark, idx, _q(terms, min_match=m))
        expect = base[base["doc_id"].map(counts) >= m].reset_index(drop=True)
        assert got["doc_id"].tolist() == expect["doc_id"].tolist(), f"m={m}"
        # scores stay the full OR sums — msm filters, never re-scores
        np.testing.assert_allclose(got["score"], expect["score"], rtol=0, atol=0)
        loc = search_local(root, _q(terms, min_match=m))
        assert loc["doc_id"].astype("int64").tolist() == got["doc_id"].tolist()
        assert 0 < len(got) < len(base)

    # boundary identities: m<=1 is plain OR; m=n matches the AND doc set
    got1 = _run(spark, idx, _q(terms, min_match=1))
    assert got1["doc_id"].tolist() == base["doc_id"].tolist()
    gotn = _run(spark, idx, _q(terms, min_match=len(terms)))
    and_docs = set(_run(spark, idx, _q(terms, mode="AND"))["doc_id"])
    assert set(gotn["doc_id"]) == and_docs


def test_prefix_expansion(spark, ql):
    root, idx, top = ql
    prefix = top[0][:3]
    expansion = idx.expand_prefixes([prefix])
    assert top[0] in expansion and len(expansion) >= 1
    expect = _run(spark, idx, _q(expansion))
    got = _run(spark, idx, _q([prefix], mode="PREFIX"))
    assert got["doc_id"].tolist() == expect["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], expect["score"], rtol=0, atol=0)

    loc = search_local(root, _q([prefix], mode="PREFIX"))
    assert loc["doc_id"].astype("int64").tolist() == got["doc_id"].tolist()

    # Spark-frame input triggers the driver-side rewrite too
    got_df = _run(spark, idx, spark.createDataFrame(_q([prefix], mode="PREFIX")))
    assert got_df["doc_id"].tolist() == got["doc_id"].tolist()


def test_prefix_expansion_cap(spark, ql):
    root, idx, _ = ql
    with pytest.raises(ValueError, match="prefix expansion"):
        idx.expand_prefixes([""], max_expansions=10)
    from invoicenet_spark.query.local import local_index

    with pytest.raises(ValueError, match="prefix expansion"):
        local_index(root).expand_prefixes([""], max_expansions=10)


def test_term_boosts(spark, ql):
    """`term^B` scales that term's contribution linearly: a single boosted
    term's scores are exactly B x the unboosted scores; in a multi-term
    query the boosted variant equals sum of scaled per-term scores."""
    root, idx, top = ql
    t0, t1 = top[0], top[1]
    s0 = _run(spark, idx, _q([t0]))
    boosted = _run(spark, idx, _q([f"{t0}^2.5"]))
    assert boosted["doc_id"].tolist() == s0["doc_id"].tolist()
    np.testing.assert_allclose(boosted["score"], s0["score"] * 2.5, rtol=1e-12)

    # multi-term: recombine from single-term runs
    s1 = _run(spark, idx, _q([t1]))
    got = _run(spark, idx, _q([f"{t0}^2", t1]))
    exp = (
        pd.concat(
            [s0.assign(score=s0["score"] * 2.0), s1]
        )
        .groupby("doc_id", as_index=False)["score"]
        .sum()
        .sort_values(["score", "doc_id"], ascending=[False, True])
        .reset_index(drop=True)
    )
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], exp["score"], rtol=1e-12)

    # serving path parity
    loc = search_local(root, _q([f"{t0}^2", t1]))
    assert loc["doc_id"].astype("int64").tolist() == got["doc_id"].tolist()
    np.testing.assert_allclose(loc["score"], got["score"], rtol=0, atol=0)

    # Spark-frame input parses boosts too
    got_df = _run(spark, idx, spark.createDataFrame(_q([f"{t0}^2", t1])))
    assert got_df["doc_id"].tolist() == got["doc_id"].tolist()


def test_near_ground_truth(spark, tmp_path):
    """NEAR/slop on a hand-crafted corpus: doc matches iff the terms appear
    IN ORDER with span <= (n-1)+slop. Exact expected sets per slop."""
    from invoicenet_spark.index.build import build_index

    rows = [
        ("u_adj", "aa bb filler filler"),          # span 1: any slop
        ("u_gap1", "aa xx bb filler"),             # span 2: slop >= 1
        ("u_gap2", "aa xx yy bb"),                 # span 3: slop >= 2
        ("u_rev", "bb aa filler filler"),          # wrong order: never
        ("u_only_a", "aa filler filler filler"),   # missing bb: never
        ("u_late", "xx aa yy zz ww bb qq rr"),     # span 4: slop >= 3
        ("u_both", "bb aa bb filler"),             # aa then bb: span 1
    ]
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    root = str(tmp_path / "near_idx")
    build_index(spark, pages, root, CFG, use_stored_text=True)
    idx = load_index(spark, root)

    expect_by_slop = {
        0: {"u_adj", "u_both"},
        1: {"u_adj", "u_both", "u_gap1"},
        2: {"u_adj", "u_both", "u_gap1", "u_gap2"},
        3: {"u_adj", "u_both", "u_gap1", "u_gap2", "u_late"},
        9: {"u_adj", "u_both", "u_gap1", "u_gap2", "u_late"},
    }
    for slop, exp in expect_by_slop.items():
        got = _run(spark, idx, _q(["aa", "bb"], mode="NEAR", slop=slop))
        assert set(got["url"]) == exp, f"slop={slop}"
        loc = search_local(root, _q(["aa", "bb"], mode="NEAR", slop=slop))
        assert set(loc["url"]) == exp, f"serving slop={slop}"

    # 3-term chain: aa … bb … cc in order
    pages3 = spark.createDataFrame(
        [
            ("v_tight", None, None, "aa bb cc filler", "en"),
            ("v_spread", None, None, "aa xx bb yy cc", "en"),
            ("v_scrambled", None, None, "cc bb aa filler", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    root3 = str(tmp_path / "near3_idx")
    build_index(spark, pages3, root3, CFG, use_stored_text=True)
    idx3 = load_index(spark, root3)
    got0 = _run(spark, idx3, _q(["aa", "bb", "cc"], mode="NEAR", slop=0))
    assert set(got0["url"]) == {"v_tight"}
    got2 = _run(spark, idx3, _q(["aa", "bb", "cc"], mode="NEAR", slop=2))
    assert set(got2["url"]) == {"v_tight", "v_spread"}


def test_count_only_matches_bigk_results(spark, ql):
    """search(count_only=True) == len(big-k results) for every mode and
    modifier; zero-match queries report 0; serving path identical."""
    root, idx, top = ql
    qs = pd.DataFrame(
        [
            {"query_id": 1, "terms": top[:3], "mode": "OR", "k": 5},
            {"query_id": 2, "terms": top[:2], "mode": "AND", "k": 5},
            {"query_id": 3, "terms": top[:3], "mode": "OR", "k": 5, "min_match": 2},
            {"query_id": 4, "terms": top[:2], "mode": "OR", "k": 5,
             "neg_terms": [top[2]]},
            {"query_id": 5, "terms": [f"({top[0]} AND {top[1]}) OR {top[2]}"],
             "mode": "BOOL", "k": 5},
            {"query_id": 6, "terms": ["zzznotaterm"], "mode": "OR", "k": 5},
            {"query_id": 7, "terms": top[:2], "mode": "PHRASE", "k": 5},
        ]
    )
    counts = search(spark, idx, qs, count_only=True).toPandas()
    got = dict(zip(counts["query_id"], counts["total_hits"]))
    for qid in range(1, 8):
        row = qs[qs["query_id"] == qid].reset_index(drop=True)
        expect = len(search(spark, idx, _big_k_frame(row)).toPandas())
        assert got[qid] == expect, f"query {qid}: {got[qid]} != {expect}"
    assert got[6] == 0
    loc = search_local(root, qs, count_only=True)
    assert dict(zip(loc["query_id"], loc["total_hits"])) == got


def _big_k_frame(q: pd.DataFrame) -> pd.DataFrame:
    q = q.copy()
    q["k"] = 100_000
    return q


def test_near_unordered_ground_truth(spark, tmp_path):
    """Unordered NEAR (ordered=False): terms match in either order within
    the window; ordered results stay bit-unchanged; both query paths."""
    from invoicenet_spark.index.build import build_index

    rows = [
        ("w_adj", "aa bb filler filler"),        # fwd span 1
        ("w_rev", "bb aa filler filler"),        # rev span 1: unordered only
        ("w_rev_gap2", "bb xx yy aa filler"),    # rev span 3: slop >= 2
        ("w_far", "aa x1 x2 x3 x4 x5 x6 bb"),    # fwd span 7: slop >= 6
        ("w_only_a", "aa filler filler"),        # never
    ]
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    root = str(tmp_path / "nearu_idx")
    build_index(spark, pages, root, CFG, use_stored_text=True)
    idx = load_index(spark, root)

    expect_unordered = {
        0: {"w_adj", "w_rev"},
        2: {"w_adj", "w_rev", "w_rev_gap2"},
        6: {"w_adj", "w_rev", "w_rev_gap2", "w_far"},
    }
    for slop, exp in expect_unordered.items():
        q = _q(["aa", "bb"], mode="NEAR", slop=slop, ordered=False)
        got = _run(spark, idx, q)
        assert set(got["url"]) == exp, f"unordered slop={slop}"
        loc = search_local(root, q)
        assert set(loc["url"]) == exp, f"serving unordered slop={slop}"
        # unordered ⊇ ordered, and ordered results are unchanged by the flag
        qo = _q(["aa", "bb"], mode="NEAR", slop=slop)
        ordered_set = set(_run(spark, idx, qo)["url"])
        assert ordered_set <= exp
        qo_explicit = _q(["aa", "bb"], mode="NEAR", slop=slop, ordered=True)
        assert set(_run(spark, idx, qo_explicit)["url"]) == ordered_set


def test_near_zero_slop_equals_phrase(spark, ql):
    """NEAR/0 degenerates to PHRASE exactly (pigeonhole on the span bound),
    scores included — on both paths."""
    root, idx, top = ql
    t = [top[0], top[1]]
    ph = _run(spark, idx, _q(t, mode="PHRASE"))
    nr = _run(spark, idx, _q(t, mode="NEAR", slop=0))
    assert nr["doc_id"].tolist() == ph["doc_id"].tolist()
    np.testing.assert_allclose(nr["score"], ph["score"], rtol=0, atol=0)
    loc = search_local(root, _q(t, mode="NEAR", slop=0))
    assert loc["doc_id"].astype("int64").tolist() == ph["doc_id"].tolist()
    # monotone in slop: result sets only grow
    prev: set = set()
    for slop in (0, 2, 8, 32):
        cur = set(_run(spark, idx, _q(t, mode="NEAR", slop=slop))["doc_id"])
        assert prev <= cur, f"slop={slop} lost docs"
        prev = cur


def test_near_requires_positions(spark, tmp_path):
    from invoicenet_spark.index.build import build_index
    from dataclasses import replace as dc_replace

    pages = gen_pages_spark(spark, 50, seed=42, partitions=2)
    root = str(tmp_path / "nopos_idx")
    build_index(spark, pages, root, dc_replace(CFG, with_positions=False))
    idx = load_index(spark, root)
    with pytest.raises(ValueError, match="positional"):
        search(spark, idx, _q(["aa", "bb"], mode="NEAR", slop=1))
    with pytest.raises(ValueError, match="positional"):
        search_local(root, _q(["aa", "bb"], mode="NEAR", slop=1))


def test_search_after_pagination(spark, ql):
    """Paging with the (score, doc_id) cursor: pages of 5 concatenate
    EXACTLY to the one-shot top-N — same docs, same scores, no gaps, no
    duplicates — across OR (block-max page 1), AND, and NEAR, on both
    query paths."""
    root, idx, top = ql
    cases = [
        (_q(top[:3], mode="OR", k=5), 5),
        (_q(top[:2], mode="AND", k=5), 5),
        (_q(top[:2], mode="NEAR", k=5, slop=8), 5),
    ]
    for base_q, page in cases:
        full = _run(spark, idx, base_q.assign(k=BIG))
        n_pages = min(4, (len(full) + page - 1) // page)
        assert n_pages >= 2, "fixture too small for a paging test"
        got_pages = []
        cursor = None
        for _ in range(n_pages):
            q = base_q.copy()
            if cursor is not None:
                q["after_score"] = [cursor[0]]
                q["after_doc"] = [cursor[1]]
            g = _run(spark, idx, q)
            got_pages.append(g)
            if len(g) < page:
                break
            cursor = (float(g.iloc[-1]["score"]), int(g.iloc[-1]["doc_id"]))
        got = pd.concat(got_pages).reset_index(drop=True)
        expect = full.head(len(got)).reset_index(drop=True)
        assert got["doc_id"].tolist() == expect["doc_id"].tolist(), base_q["mode"][0]
        np.testing.assert_allclose(got["score"], expect["score"], rtol=0, atol=0)

    # serving path pages identically (OR case)
    base_q = _q(top[:3], mode="OR", k=5)
    p1 = search_local(root, base_q)
    cur = (float(p1.iloc[-1]["score"]), int(p1.iloc[-1]["doc_id"]))
    q2 = base_q.assign(after_score=cur[0], after_doc=cur[1])
    p2 = search_local(root, q2)
    full = _run(spark, idx, base_q.assign(k=BIG))
    assert (
        p1["doc_id"].astype("int64").tolist() + p2["doc_id"].astype("int64").tolist()
        == full.head(10)["doc_id"].tolist()
    )

    # cursor past the end: empty page, not an error
    last = (float(full.iloc[-1]["score"]), int(full.iloc[-1]["doc_id"]))
    tail = _run(spark, idx, base_q.assign(after_score=last[0], after_doc=last[1]))
    assert len(tail) == 0


def test_facet_counts_by_host(spark, ql):
    """facet_counts over the full match set, faceted by url host — ground
    truth recomputed from the result urls themselves."""
    from urllib.parse import urlparse

    from invoicenet_spark.query.exec import facet_counts

    root, idx, top = ql
    full = _run(spark, idx, _q(top[:2]))
    exp = (
        full["url"].map(lambda u: urlparse(u).netloc).value_counts().to_dict()
    )
    res = search(spark, idx, _q(top[:2]))
    meta = idx.docs.select(
        "doc_id", F.parse_url(F.col("url"), F.lit("HOST")).alias("host")
    )
    got = facet_counts(res, meta, "host").toPandas()
    assert dict(zip(got["host"], got["n_docs"])) == exp
    assert (got["query_id"] == 1).all()


def test_boost_duplicate_clause_semantics(spark, ql):
    """Additive clauses: `t^2 t` == 3x the single-term scores, `t^2 t^3` ==
    5x — identically on both paths (one shared grammar in qparse)."""
    root, idx, top = ql
    t0 = top[0]
    s1 = _run(spark, idx, _q([t0]))
    for terms, factor in ([[f"{t0}^2", t0], 3.0], [[f"{t0}^2", f"{t0}^3"], 5.0]):
        got = _run(spark, idx, _q(terms))
        assert got["doc_id"].tolist() == s1["doc_id"].tolist(), terms
        np.testing.assert_allclose(got["score"], s1["score"] * factor, rtol=1e-12)
        loc = search_local(root, _q(terms))
        np.testing.assert_allclose(loc["score"], got["score"], rtol=0, atol=0)


def test_mixed_optional_columns_multi_query_batch(spark, ql):
    """A pandas batch where only SOME rows carry neg_terms/min_match (the
    other rows hold NaN) must not crash the Spark path and must apply each
    row's own options."""
    root, idx, top = ql
    q = pd.DataFrame(
        [
            {"query_id": 1, "terms": top[:2], "mode": "OR", "k": BIG,
             "neg_terms": [top[2]]},
            {"query_id": 2, "terms": top[:2], "mode": "OR", "k": BIG},
        ]
    )
    got = _run(spark, idx, q)
    plain = set(_run(spark, idx, _q(top[:2]))["doc_id"])
    neg_docs = set(_run(spark, idx, _q([top[2]]))["doc_id"])
    g1 = set(got[got["query_id"] == 1]["doc_id"])
    g2 = set(got[got["query_id"] == 2]["doc_id"])
    assert g2 == plain
    assert g1 == plain - neg_docs
    loc = search_local(root, q)
    assert set(loc[loc["query_id"] == 1]["doc_id"].astype("int64")) == g1
    assert set(loc[loc["query_id"] == 2]["doc_id"].astype("int64")) == g2


def test_fuzzy_queries(spark, ql):
    """FUZZY == OR over the Levenshtein expansion; a 1-edit misspelling of
    a real term recovers that term's docs on both paths."""
    from invoicenet_spark.query.local import local_index

    root, idx, top = ql
    t0 = top[0]
    typo = t0[:-1] + ("x" if t0[-1] != "x" else "y")  # 1 substitution
    expansion = idx.expand_fuzzy([typo], max_edits=1)
    assert t0 in expansion
    # serving expansion agrees with the Spark-path expansion
    assert local_index(root).expand_fuzzy([typo], max_edits=1) == expansion

    expect = _run(spark, idx, _q(expansion))
    got = _run(spark, idx, _q([typo], mode="FUZZY", max_edits=1))
    assert got["doc_id"].tolist() == expect["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], expect["score"], rtol=0, atol=0)
    loc = search_local(root, _q([typo], mode="FUZZY", max_edits=1))
    assert loc["doc_id"].astype("int64").tolist() == got["doc_id"].tolist()

    # max_edits=0 == exact lookup; nonsense stays empty
    got0 = _run(spark, idx, _q([t0], mode="FUZZY", max_edits=0))
    exact = _run(spark, idx, _q([t0]))
    assert got0["doc_id"].tolist() == exact["doc_id"].tolist()
    assert len(_run(spark, idx, _q(["zzqxjv"], mode="FUZZY", max_edits=1))) == 0


def test_fuzzy_edge_cases(spark, ql):
    """Boost suffixes are stripped BEFORE expansion (a '^2' would otherwise
    be edit-distance-matched literally); the big-vocab streaming fallback
    returns the same expansion as the hot-dictionary path."""
    import os as _os

    from invoicenet_spark.query.local import LocalIndex, local_index

    root, idx, top = ql
    t0 = top[0]
    typo = t0[:-1] + ("x" if t0[-1] != "x" else "y")

    plain = _run(spark, idx, _q([typo], mode="FUZZY", max_edits=1))
    boosted = _run(spark, idx, _q([f"{typo}^2"], mode="FUZZY", max_edits=1))
    assert boosted["doc_id"].tolist() == plain["doc_id"].tolist()
    assert len(plain) > 0

    hot = local_index(root).expand_fuzzy([typo], 1)
    cold = LocalIndex(_os.path.realpath(root))
    cold._dict_too_big = True  # force the record-batch streaming fallback
    assert cold.expand_fuzzy([typo], 1) == hot
    assert cold.expand_fuzzy([], 1) == []


def test_fuzzy_levenshtein_kernel_fuzz():
    """query/fuzzy.py's vectorized DP vs a reference python DP, 300 random
    (vocab, term, budget) draws."""
    from invoicenet_spark.query.fuzzy import levenshtein_within

    def ref(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            nd = [i]
            for j, cb in enumerate(b, 1):
                nd.append(min(d[j] + 1, nd[j - 1] + 1, d[j - 1] + (ca != cb)))
            d = nd
        return d[-1]

    rng = np.random.default_rng(0)
    alpha = list("abcde")
    vocab = np.array(
        sorted({"".join(rng.choice(alpha, size=rng.integers(1, 8))) for _ in range(400)}),
        dtype=str,
    )
    for seed in range(300):
        r = np.random.default_rng(seed)
        t = "".join(r.choice(alpha, size=r.integers(1, 8)))
        e = int(r.integers(0, 3))
        got = levenshtein_within(vocab, t, e)
        exp = sorted(v for v in vocab if ref(t, v) <= e)
        assert got == exp, (seed, t, e)


def _result_rows(df):
    df = df.sort_values(["query_id", "rank"])
    return list(zip(
        df["query_id"].astype("int64").tolist(), df["rank"].astype("int64").tolist(),
        df["doc_id"].astype("int64").tolist(), df["url"].tolist(), df["score"].tolist(),
    ))


def test_expansion_rows_agree_across_paths_hot_and_scanned(spark, ql, monkeypatch):
    """PREFIX/FUZZY/WILDCARD/REGEX rows give identical rows through
    exec.search and search_local, with the dictionary hot and with the
    big-vocabulary scan forced (MAX_HOT_TERMS = 0): both paths read one
    dictionary with one regex dialect."""
    from invoicenet_spark.query import plan
    from invoicenet_spark.query.local import LocalIndex

    root, _, top = ql
    typo = top[1][:-1] + ("x" if top[1][-1] != "x" else "y")
    q = pd.DataFrame([{"query_id": i, "k": BIG, **r} for i, r in enumerate([
        {"terms": [top[0][:3]], "mode": "PREFIX"},
        {"terms": [typo], "mode": "FUZZY", "max_edits": 1},
        {"terms": [top[2][0] + "?" + top[2][2:] + "*"], "mode": "WILDCARD"},
        # a Python named group, which Java's regex dialect rejects
        {"terms": [f"(?P<g>{top[3][:3]}){top[3][3:]}.*"], "mode": "REGEX"},
    ], 1)])
    runs = []
    for ceiling in (plan.MAX_HOT_TERMS, 0):
        monkeypatch.setattr(plan, "MAX_HOT_TERMS", ceiling)
        # fresh handles: a loaded hot dictionary would outlive the ceiling
        idx, li = load_index(spark, root), LocalIndex(root)
        runs.append(_result_rows(search(spark, idx, q.copy()).toPandas()))
        runs.append(_result_rows(search_local(li, q.copy())))
        assert (idx.hot_dict() is None) == (li.hot_dict() is None) == (ceiling == 0)
    assert {r[0] for r in runs[0]} == {1, 2, 3, 4}
    assert runs[1:] == [runs[0]] * 3


def test_dictionary_lookups_start_no_spark_job(spark, ql):
    """A freshly loaded Spark handle loads its hot dictionary and looks
    terms up through pyarrow: no Spark job."""
    root, _, top = ql
    idx = load_index(spark, root)
    sc, group = spark.sparkContext, "dictionary_lookups_start_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        hot = idx.hot_dict()
        info = idx.term_info(set(top))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert hot is not None and set(info) == set(top)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_prefix_no_match_is_empty(spark, ql):
    root, idx, _ = ql
    got = _run(spark, idx, _q(["zzznoprefix"], mode="PREFIX"))
    assert len(got) == 0
    assert len(search_local(root, _q(["zzznoprefix"], mode="PREFIX"))) == 0


def test_cli_bool_pagination_and_boosts_round_trip(spark, ql, capsys):
    """CLI surface for BOOL trees (round-5 item 7): `--query` strings with
    leaf boosts paginate via --after-score/--after-doc on BOTH the Spark
    and --local paths — page 2 equals rows k+1..2k of one big-k run."""
    import json as _json

    from invoicenet_spark.cli import main

    root, idx, top = ql
    qstr = f"{top[0]}^2 OR {top[1]} OR {top[2]}"
    k = 5

    def run_cli(extra):
        capsys.readouterr()
        assert main(["search", "--index", root, "--query", qstr, "-k", str(k)]
                    + extra) == 0
        return [
            _json.loads(line)
            for line in capsys.readouterr().out.strip().splitlines()
            if line.startswith("{")
        ]

    for path_args in (["--local"], []):
        # big-k ground truth (argparse takes the last -k)
        full = run_cli(path_args + ["-k", str(3 * k)])
        assert len(full) > k + 1, "fixture too small to paginate"
        page1 = run_cli(path_args)
        assert [r["doc_id"] for r in page1] == [r["doc_id"] for r in full[:k]]
        cur = page1[-1]
        # CLI rounds printed scores to 6 digits; fetch the exact cursor from
        # the engine like a client holding raw results would
        res = search_local(root, _q([qstr], mode="BOOL", k=k))
        after = ["--after-score", repr(float(res["score"].iloc[-1])),
                 "--after-doc", str(int(cur["doc_id"]))]
        page2 = run_cli(path_args + after)
        assert [r["doc_id"] for r in page2] == [r["doc_id"] for r in full[k : 2 * k]]

    # boost actually changes the ranking vs the unboosted tree
    boosted = search_local(root, _q([qstr], mode="BOOL", k=BIG))
    plain = search_local(root, _q([f"{top[0]} OR {top[1]} OR {top[2]}"], mode="BOOL", k=BIG))
    merged = boosted.merge(plain, on="doc_id", suffixes=("_b", "_p"))
    assert (merged["score_b"] > merged["score_p"]).any()
