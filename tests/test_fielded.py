"""Fielded search (BM25F-lite): per-field postings via field-qualified
dictionary keys, per-field length normalization, query-time field weights —
pinned against a hand-computed reference on BOTH query paths, plus the
html title/body extraction path."""

import math

import numpy as np
import pandas as pd
import pytest

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.query.exec import load_index, search
from invoicenet_spark.query.local import search_local

CFG = EngineConfig(
    shard_size=32, block_size=8, build_partitions=4, fields=("title", "body")
)
BIG = 100_000

# (url_int, title, body) — titles short, bodies long, deliberate overlaps
DOCS = [
    (0, "spark engine", "query engine for big data spark spark"),
    (1, "query planner", "spark spark spark planner internals"),
    (2, "window functions", "query window partition order"),
    (3, "", "spark only in body no title here"),
    (4, "spark spark spark", "unrelated text about nothing"),
    (5, "data systems", "window query window query window"),
]


@pytest.fixture(scope="module")
def fielded_idx(spark, tmp_path_factory):
    from invoicenet_spark.index.build import build_index

    pages = spark.createDataFrame(
        [(f"{d:012d}", t, b, "en") for d, t, b in DOCS],
        "url string, title string, body string, lang string",
    )
    root = str(tmp_path_factory.mktemp("fielded_idx") / "index")
    build_index(spark, pages, root, CFG, use_stored_text=True)
    return root, load_index(spark, root)


def _toks(s):
    return [t for t in s.lower().split() if t]


def _field_stats():
    """Per-field (avgdl over docs with a non-empty field, df per term)."""
    out = {}
    for fi, fname in ((1, "title"), (2, "body")):
        lens = [len(_toks(d[fi])) for d in DOCS if _toks(d[fi])]
        df = {}
        for d in DOCS:
            for t in set(_toks(d[fi])):
                df[t] = df.get(t, 0) + 1
        out[fname] = (sum(lens) / len(lens), df)
    return out


def _brute_fielded(terms, weights, mode="OR"):
    """Expected {url_int: score}: weighted sum of per-field BM25 partials;
    AND = every base term present in >= 1 weighted field."""
    N = len(DOCS)
    st = _field_stats()
    out = {}
    for d, title, body in DOCS:
        fields = {"title": _toks(title), "body": _toks(body)}
        score, matched_terms = 0.0, set()
        for t in terms:
            for fname, w in weights.items():
                toks = fields[fname]
                tf = toks.count(t)
                if tf == 0:
                    continue
                avgdl, dfs = st[fname]
                idf = math.log((N - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
                score += w * idf * tf * 2.2 / (
                    tf + 1.2 * (1 - 0.75 + 0.75 * len(toks) / avgdl)
                )
                matched_terms.add(t)
        if mode == "AND" and matched_terms != set(terms):
            continue
        if matched_terms:
            out[d] = score
    return out


def test_fielded_stats_persisted(fielded_idx):
    root, idx = fielded_idx
    st = _field_stats()
    assert set(idx.stats["fields"]) == {"title", "body"}
    assert idx.stats["fields"]["title"]["avgdl"] == pytest.approx(st["title"][0])
    assert idx.stats["fields"]["body"]["avgdl"] == pytest.approx(st["body"][0])
    assert idx.stats["fields"]["title"]["n_docs"] == 5  # doc 3 has no title


@pytest.mark.parametrize(
    "terms,weights,mode",
    [
        (["spark"], {"title": 2.0, "body": 1.0}, "OR"),
        (["spark", "query"], {"title": 2.0, "body": 1.0}, "OR"),
        (["spark", "query"], {"title": 3.0, "body": 0.5}, "AND"),
        (["window"], {"title": 1.0}, "OR"),  # title-only search
        (["spark", "window"], {"body": 1.0}, "AND"),
    ],
)
def test_fielded_scores_both_paths(spark, fielded_idx, terms, weights, mode):
    root, idx = fielded_idx
    q = pd.DataFrame(
        [{"query_id": 1, "terms": terms, "mode": mode, "k": BIG, "fields": weights}]
    )
    got = search(spark, idx, q).toPandas()
    loc = search_local(root, q)
    assert got["doc_id"].tolist() == loc["doc_id"].astype("int64").tolist()
    np.testing.assert_array_equal(got["score"].to_numpy(), loc["score"].to_numpy())

    expect = _brute_fielded(terms, weights, mode)
    got_map = dict(zip(got["url"].astype(int), got["score"]))
    assert set(got_map) == set(expect), (terms, weights, mode)
    for d in expect:
        assert got_map[d] == pytest.approx(expect[d], rel=1e-9), (d, terms)


def test_fielded_grammar_leaves(spark, fielded_idx):
    """`title:spark^2 OR body:query` through the BOOL grammar — field
    prefixes resolve against the per-field dictionary and pick up their
    field's avgdl automatically."""
    root, idx = fielded_idx
    q = pd.DataFrame(
        [{"query_id": 1, "terms": ["title:spark^2 OR body:query"], "mode": "BOOL", "k": BIG}]
    )
    got = search(spark, idx, q).toPandas()
    expect = _brute_fielded(["spark"], {"title": 2.0}, "OR")
    for d, s in _brute_fielded(["query"], {"body": 1.0}, "OR").items():
        expect[d] = expect.get(d, 0.0) + s
    got_map = dict(zip(got["url"].astype(int), got["score"]))
    assert set(got_map) == set(expect)
    for d in expect:
        assert got_map[d] == pytest.approx(expect[d], rel=1e-9)
    loc = search_local(root, q)
    np.testing.assert_array_equal(got["score"].to_numpy(), loc["score"].to_numpy())


def test_fielded_index_is_query_time_drop_in(spark, fielded_idx):
    """Plain queries on a fielded index auto-qualify across all fields at
    weight 1 (MultiFieldQueryParser default) — identical to explicit
    {title: 1, body: 1} weights, with modifiers carried, on both paths."""
    root, idx = fielded_idx
    eq_w = {"title": 1.0, "body": 1.0}
    for mode in ("OR", "AND"):
        plain = pd.DataFrame(
            [{"query_id": 1, "terms": ["spark", "query"], "mode": mode, "k": BIG}]
        )
        explicit = pd.DataFrame(
            [{"query_id": 1, "terms": ["spark", "query"], "mode": mode, "k": BIG,
              "fields": dict(eq_w)}]
        )
        a = search(spark, idx, plain).toPandas()
        b = search(spark, idx, explicit).toPandas()
        assert a["doc_id"].tolist() == b["doc_id"].tolist(), mode
        np.testing.assert_array_equal(a["score"].to_numpy(), b["score"].to_numpy())
        loc = search_local(root, plain)
        np.testing.assert_array_equal(a["score"].to_numpy(), loc["score"].to_numpy())
    # brute check too: plain AND == weighted-1 fielded AND
    got = search(
        spark, idx,
        pd.DataFrame([{"query_id": 1, "terms": ["spark", "window"], "mode": "AND", "k": BIG}]),
    ).toPandas()
    expect = _brute_fielded(["spark", "window"], eq_w, "AND")
    got_map = dict(zip(got["url"].astype(int), got["score"]))
    assert set(got_map) == set(expect)
    for d in expect:
        assert got_map[d] == pytest.approx(expect[d], rel=1e-9)
    # neg_terms carried through the auto rewrite
    neg = search(
        spark, idx,
        pd.DataFrame([{"query_id": 1, "terms": ["spark"], "mode": "OR", "k": BIG,
                       "neg_terms": ["window"]}]),
    ).toPandas()
    with_w = {d for d, t, b_ in DOCS if "window" in _toks(t) + _toks(b_)}
    base = set(dict(zip(got["url"].astype(int), got["score"])))  # docs w/ spark+window
    assert set(neg["url"].astype(int)) == set(
        _brute_fielded(["spark"], eq_w, "OR")
    ) - with_w
    # bare grammar leaves qualify too
    g = search(
        spark, idx,
        pd.DataFrame([{"query_id": 1, "terms": ["spark AND query"], "mode": "BOOL", "k": BIG}]),
    ).toPandas()
    expect_g = _brute_fielded(["spark", "query"], eq_w, "AND")
    gm = dict(zip(g["url"].astype(int), g["score"]))
    assert set(gm) == set(expect_g)
    for d in expect_g:
        assert gm[d] == pytest.approx(expect_g[d], rel=1e-9)


def test_fielded_phrase_drop_in(spark, tmp_path):
    """A bare PHRASE on a positional fielded index matches within EITHER
    field (per-field phrase copies), never across the field boundary."""
    from invoicenet_spark.index.build import build_index

    cfg = EngineConfig(
        shard_size=32, block_size=8, build_partitions=2,
        fields=("title", "body"), with_positions=True,
    )
    pages = spark.createDataFrame(
        [
            ("000000000000", "alpha beta", "unrelated words here", "en"),
            ("000000000001", "other title", "then alpha beta appears", "en"),
            ("000000000002", "ends alpha", "beta starts the body", "en"),  # crosses fields
            ("000000000003", "nothing", "relevant", "en"),
        ],
        "url string, title string, body string, lang string",
    )
    root = str(tmp_path / "fph")
    build_index(spark, pages, root, cfg, use_stored_text=True)
    idx = load_index(spark, root)
    q = pd.DataFrame(
        [{"query_id": 1, "terms": ["alpha", "beta"], "mode": "PHRASE", "k": 10}]
    )
    got = search(spark, idx, q).toPandas()
    assert set(got["url"].astype(int)) == {0, 1}  # doc 2's cross-field pair no match
    loc = search_local(root, q)
    np.testing.assert_array_equal(got["score"].to_numpy(), loc["score"].to_numpy())


def test_fielded_incremental_update(spark, tmp_path):
    """update_index on a fielded index: new docs index under the same
    field-qualified layout (cfg.fields round-trips the manifest), per-field
    stats re-derive over the union, and queries match a fresh full build."""
    from invoicenet_spark.index.build import build_index
    from invoicenet_spark.sources.snapshots import SnapshotTable
    from invoicenet_spark.streaming.incremental import update_index

    def pages_of(rows):
        return spark.createDataFrame(
            [(f"{d:012d}", t, b, "en") for d, t, b in rows],
            "url string, title string, body string, lang string",
        )

    batch1, batch2 = DOCS[:4], DOCS[4:]
    table = SnapshotTable(str(tmp_path / "pages"))
    table.append(pages_of(batch1))
    root = str(tmp_path / "idx")
    update_index(spark, table, root, CFG, use_stored_text=True)  # cold start
    table.append(pages_of(batch2))
    res = update_index(spark, table, root, CFG, use_stored_text=True)
    assert res["docs_added"] == len(batch2)

    full_root = str(tmp_path / "full")
    build_index(spark, pages_of(DOCS), full_root, CFG, use_stored_text=True)

    idx_u, idx_f = load_index(spark, root), load_index(spark, full_root)
    assert idx_u.stats["fields"]["title"]["avgdl"] == pytest.approx(
        idx_f.stats["fields"]["title"]["avgdl"]
    )
    q = pd.DataFrame(
        [{"query_id": 1, "terms": ["spark", "query"], "mode": "OR", "k": BIG,
          "fields": {"title": 2.0, "body": 1.0}}]
    )
    ru = search(spark, idx_u, q).toPandas()
    rf = search(spark, idx_f, q).toPandas()
    mu = dict(zip(ru["url"].astype(int), ru["score"].round(9)))
    mf = dict(zip(rf["url"].astype(int), rf["score"].round(9)))
    assert mu == mf and len(mu) > 0

    # compaction is field-agnostic: merging the update's small shards keeps
    # fielded queries identical
    from invoicenet_spark.index.maintain import compact_index

    compact_index(spark, root, new_shard_size=CFG.shard_size * 2)
    rc = search(spark, load_index(spark, root), q).toPandas()
    mc = dict(zip(rc["url"].astype(int), rc["score"].round(9)))
    assert mc == mf


def test_fielded_html_extraction(spark, tmp_path):
    """fields=('title','body') over raw html: <title> feeds the title field,
    strip_tags of the whole page feeds body (title text included — the
    standard web-search choice)."""
    from invoicenet_spark.index.build import build_index

    pages = spark.createDataFrame(
        [
            (
                "000000000000",
                "<html><head><title>Spark &amp; Friends</title></head>"
                "<body><p>query engine internals</p></body></html>".encode(),
                "en",
            ),
            (
                "000000000001",
                b"<html><head><title>Other</title></head><body>window things</body></html>",
                "en",
            ),
        ],
        "url string, html binary, lang string",
    )
    cfg = EngineConfig(shard_size=32, block_size=8, build_partitions=2, fields=("title", "body"))
    root = str(tmp_path / "html_fielded")
    build_index(spark, pages, root, cfg)
    idx = load_index(spark, root)
    terms = {r["term"] for r in spark.read.parquet(idx.paths.terms).collect()}
    assert "title:spark" in terms and "title:friends" in terms  # entity decoded
    assert "body:query" in terms and "body:spark" in terms  # title rides body too
    q = pd.DataFrame(
        [{"query_id": 1, "terms": ["spark"], "mode": "OR", "k": 10, "fields": {"title": 1.0}}]
    )
    got = search(spark, idx, q).toPandas()
    assert got["url"].tolist() == ["000000000000"]


def test_bare_term_matching_a_field_name_still_qualifies(spark, fielded_idx):
    """The bare query word `body` (or `title`) on a ('title','body') index
    is NOT field-qualified — qualification requires an actual colon. Before
    the colon check it resolved to no dictionary key and silently matched
    nothing."""
    from invoicenet_spark.query import booltree

    stats = {"title": {}, "body": {}}
    leaf = {"kind": "term", "term": "body", "boost": 1.0}
    q = booltree.qualify_bare_leaves(leaf, stats)
    assert q["kind"] == "or" and {c["term"] for c in q["clauses"]} == {
        "title:body", "body:body"
    }
    # explicit qualification still passes through untouched
    qual = {"kind": "term", "term": "body:spark", "boost": 1.0}
    assert booltree.qualify_bare_leaves(qual, stats) == qual

    # end-to-end: doc 3's body contains the token 'body'
    root, idx = fielded_idx
    got = search(
        spark, idx,
        pd.DataFrame([{"query_id": 1, "terms": ["body"], "mode": "OR", "k": BIG}]),
    ).toPandas()
    expect = _brute_fielded(["body"], {"title": 1.0, "body": 1.0}, "OR")
    assert set(got["url"].astype(int)) == set(expect) != set()
    gm = dict(zip(got["url"].astype(int), got["score"]))
    for d in expect:
        assert gm[d] == pytest.approx(expect[d], rel=1e-9)
    loc = search_local(
        root,
        pd.DataFrame([{"query_id": 1, "terms": ["body"], "mode": "OR", "k": BIG}]),
    )
    np.testing.assert_array_equal(got["score"].to_numpy(), loc["score"].to_numpy())


def test_cross_field_phrase_rejected(fielded_idx):
    """Phrases whose qualified slots span two fields (or mix qualified and
    bare slots) are rejected: per-field token ordinals all start at 0, so
    cross-field positions are incomparable (Lucene disallows these too)."""
    from invoicenet_spark.query import booltree

    stats = {"title": {}, "body": {}}
    for terms in (["title:a", "body:b"], ["title:a", "b"]):
        with pytest.raises(ValueError, match="spans multiple fields"):
            booltree.normalize_query(
                {"kind": "phrase", "terms": terms, "slop": 0, "ordered": True,
                 "boost": 1.0},
                expand_prefix=lambda p: [],
                expand_fuzzy=lambda t: [],
                field_stats=stats,
            )
    # single-field qualified and all-bare phrases still normalize fine
    for terms in (["title:a", "title:b"], ["a", "b"]):
        booltree.normalize_query(
            {"kind": "phrase", "terms": terms, "slop": 0, "ordered": True,
             "boost": 1.0},
            expand_prefix=lambda p: [],
            expand_fuzzy=lambda t: [],
            field_stats=stats,
        )


def test_fielded_and_with_synonyms(spark, fielded_idx):
    """AND + a `fields` weight map + synonyms must not hard-fail (the
    synonym AND→BOOL rewrite used to run first and the fielded rewrite
    then rejected the BOOL row). The synonyms expand INSIDE the fielded
    tree: and-of-groups where each group is any form in any weighted
    field — identical rows on both paths, and equal to the manually
    expanded tree."""
    root, idx = fielded_idx
    syn = {"query": ["window"]}
    q = pd.DataFrame(
        [{"query_id": 1, "terms": ["spark", "query"], "mode": "AND", "k": 10,
          "fields": {"title": 2.0, "body": 1.0}}]
    )
    sp = (
        search(spark, idx, q.copy(), synonyms=syn)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    lo = (
        search_local(root, q.copy(), synonyms=syn)
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert list(lo["doc_id"]) == list(sp["doc_id"])
    assert np.allclose(
        lo["score"].to_numpy(dtype=float), sp["score"].to_numpy(dtype=float)
    )
    # manual equivalent: spark-in-any-field AND (query|window)-in-any-field
    tree = {
        "kind": "and",
        "clauses": [
            {"kind": "or", "clauses": [
                {"kind": "term", "term": "title:spark", "boost": 2.0},
                {"kind": "term", "term": "body:spark", "boost": 1.0},
            ]},
            {"kind": "or", "clauses": [
                {"kind": "term", "term": "title:query", "boost": 2.0},
                {"kind": "term", "term": "body:query", "boost": 1.0},
                {"kind": "term", "term": "title:window", "boost": 2.0},
                {"kind": "term", "term": "body:window", "boost": 1.0},
            ]},
        ],
    }
    qm = pd.DataFrame([{"query_id": 1, "terms": [], "mode": "BOOL", "k": 10,
                        "tree": tree}])
    manual = (
        search(spark, idx, qm).toPandas()
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert list(manual["doc_id"]) == list(sp["doc_id"])
    assert np.allclose(
        manual["score"].to_numpy(dtype=float), sp["score"].to_numpy(dtype=float)
    )


def test_negative_field_weight_raises_on_both_paths(spark, fielded_idx):
    root, idx = fielded_idx
    q = pd.DataFrame([{"query_id": 1, "terms": ["spark"], "mode": "OR", "k": 5,
                       "fields": {"title": -1.0, "body": 1.0}}])
    with pytest.raises(ValueError, match="'title'"):
        search(spark, idx, q)
    with pytest.raises(ValueError, match="'title'"):
        search_local(root, q)


@pytest.mark.parametrize(
    "row",
    [
        {"terms": ["query"], "mode": "OR", "fields": {"title": 1.0, "body": 1.0}},
        {"terms": ["query"], "mode": "AND", "fields": {"title": 2.0, "body": 1.0}},
        {"terms": ["query"], "mode": "BOOL", "fields": None},
    ],
)
def test_fielded_neg_terms_exclude_on_both_paths(spark, fielded_idx, row):
    """neg_terms beside a `fields` map (or a BOOL query) on a fielded index
    are bare terms: they must qualify across the fields like the positive
    leaves and exclude their docs — not silently match no dictionary key.
    Docs 0 and 1 carry `spark` (title or body), so only 2 and 5 remain."""
    root, idx = fielded_idx
    q = pd.DataFrame([{"query_id": 1, "k": BIG, "neg_terms": ["spark"], **row}])
    want = {2, 5}
    got = search(spark, idx, q).toPandas()
    loc = search_local(root, q)
    assert set(got["url"].astype(int)) == want
    assert set(loc["url"].astype(int)) == want
    np.testing.assert_array_equal(got["score"].to_numpy(), loc["score"].to_numpy())


@pytest.mark.parametrize(
    "fields", [None, {"title": 1.0, "body": 1.0}], ids=["drop-in", "weighted"]
)
def test_duplicate_boosts_sum_on_both_paths(spark, fielded_idx, fields):
    """`spark^2 spark^2` is two clauses of boost 2, the same query as
    `spark^4` (qparse.parse_boost_terms) — on a fielded index as on a plain
    one, with or without a `fields` map."""
    root, idx = fielded_idx

    def q(terms):
        return pd.DataFrame(
            [{"query_id": 1, "terms": terms, "mode": "OR", "k": BIG, "fields": fields}]
        )

    dup = search(spark, idx, q(["spark^2", "spark^2"])).toPandas()
    single = search(spark, idx, q(["spark^4"])).toPandas()
    for other in (single, search_local(root, q(["spark^2", "spark^2"]))):
        assert dup["doc_id"].tolist() == other["doc_id"].astype("int64").tolist()
        np.testing.assert_array_equal(dup["score"].to_numpy(), other["score"].to_numpy())
    expect = _brute_fielded(["spark"], {"title": 4.0, "body": 4.0})
    got_map = dict(zip(dup["url"].astype(int), dup["score"]))
    assert set(got_map) == set(expect)
    for d in expect:
        assert got_map[d] == pytest.approx(expect[d], rel=1e-9)


def test_drop_in_and_synonyms_equal_the_weighted_spelling(spark, fielded_idx):
    """A drop-in AND row repeating a synonym-bearing term gets one
    (query|window) group, like its fields={f: 1.0} spelling (fielded_tree),
    so `query` counts once: both spellings return the same rows, with the
    same floats, on both paths."""
    root, idx = fielded_idx
    syn = {"query": ["window"]}
    row = {"query_id": 1, "terms": ["query", "query", "spark"], "mode": "AND", "k": BIG}
    drop_in = pd.DataFrame([row])
    weighted = pd.DataFrame([{**row, "fields": {"title": 1.0, "body": 1.0}}])
    want = search(spark, idx, weighted, synonyms=syn).toPandas()
    assert set(want["url"].astype(int)) == {0, 1}
    for got in (
        search(spark, idx, drop_in, synonyms=syn).toPandas(),
        search_local(root, drop_in, synonyms=syn),
        search_local(root, weighted, synonyms=syn),
    ):
        assert got["doc_id"].astype("int64").tolist() == want["doc_id"].tolist()
        np.testing.assert_array_equal(got["score"].to_numpy(), want["score"].to_numpy())
